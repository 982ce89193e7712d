package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Scope
import graft.functions.VectorFunctions.{l2qArgmin, vecDot, vecL2Q, vecQuantizeFx}

/** Similarity search over an embedding column (SURVEY §2.2 Q13/Q16-Q17):
  * brute-force cosine top-k as the exact baseline, and a random-
  * hyperplane LSH-bucketed variant as the 100 TB scale path.
  *
  * The inner loop is the native codegen'd [[graft.functions.VecDot]]
  * expression; norms are computed once per vector *before* the pair
  * join, so per-pair work is a single dot product. Accumulation order
  * matches the DuckDB oracle bit-for-bit (sequential double fold).
  */
object SimilarityOps {

  /** cos(a,b) given precomputed norms — round to 6 for cross-engine
    * comparability.
    */
  private def sim(a: String, b: String, normA: String, normB: String) =
    round(vecDot(col(a), col(b)) / (col(normA) * col(normB)), 6)

  import OpsUtil.par

  private def withNorm(df: DataFrame, vecCol: String, normCol: String): DataFrame =
    par(df).withColumn(normCol, sqrt(vecDot(col(vecCol), col(vecCol))))

  /** Q16: exact brute-force top-k cosine neighbors for each query
    * vector (vec_id < 5). The query side is tiny and broadcast;
    * the candidate scan is embarrassingly parallel, one pass over the
    * corpus; the window-rank top-k shuffles only (query_id, k) rows.
    *
    * Plan note: the non-equi condition makes this a
    * BroadcastNestedLoopJoin — intended and scale-safe HERE because
    * the broadcast side is BOUNDED (5 rows) and the corpus
    * streams once past it; the harmful nested loop is the one with an
    * unbounded side, which [[closestPairs]] eliminates.
    */
  def bruteForceKnn(embeddings: DataFrame, k: Int = 10): DataFrame = {
    val cands = withNorm(embeddings, "embedding", "cn")
    val queries = cands.filter(col("vec_id") < probeQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"), col("cn").as("qn"))
    val scored = cands.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("sim", sim("q", "embedding", "qn", "cn"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("query_id", "rnk", "vec_id", "sim")
  }

  /** The shared exact pair-scoring subplan of [[closestPairs]] and
    * [[embeddingNearDupPairs]]: every unordered pair meets exactly once
    * in a block-partitioned equi-join (see [[closestPairs]] scaladoc)
    * and is scored with the codegen'd cosine.
    */
  private def scoredPairs(embeddings: DataFrame): DataFrame = {
    val blocks = 32
    val n = withNorm(embeddings, "embedding", "n")
    // pmod, not %: Spark's % is sign-preserving, so a negative vec_id
    // would land in a block the left side never replicates to and all
    // of that vector's pairs would silently vanish
    val r = n.select(col("vec_id").as("id_b"), col("embedding").as("eb"),
      col("n").as("nb"), pmod(col("vec_id"), lit(blocks)).as("blk"))
    val l = n.select(col("vec_id").as("id_a"), col("embedding").as("ea"),
        col("n").as("na"))
      .withColumn("blk", explode(expr(s"sequence(0, ${blocks - 1})")))
    l.join(r, Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", sim("ea", "eb", "na", "nb"))
  }

  /** Q17: exact closest pairs across the corpus — candidate
    * near-duplicates by embedding cosine.
    *
    * All-pairs compute is inherent to the EXACT semantics, but the
    * PLAN is a block-partitioned equi-join, not a nested loop: each
    * vector lands in block `vec_id % blocks`; the left side replicates
    * each vector to every block id, so pair (a, b) meets exactly once
    * — in the partition of b's block. That is a plain shuffled
    * equi-join on the block key (parallelism = `blocks`, replication
    * cost `blocks`·n ≪ n² compute), no BroadcastNestedLoopJoin, no
    * corpus broadcast, and the final top-20 plans as
    * TakeOrderedAndProject (per-partition heaps). 32 blocks.
    */
  def closestPairs(embeddings: DataFrame): DataFrame =
    scoredPairs(embeddings)
      .orderBy(col("sim").desc, col("id_a").asc, col("id_b").asc)
      .limit(20)
      .select("id_a", "id_b", "sim")

  /** Q65: embedding-cosine NEAR-DUP pairs — the threshold form of
    * [[closestPairs]]: every pair at or above `threshold`, i.e. the
    * semantic-dedup candidate surface (the embedding-space analogue of
    * the q13/q27 lexical candidate generators). Exact by construction.
    */
  def embeddingNearDupPairs(embeddings: DataFrame,
                            threshold: Double = 0.45): DataFrame =
    scoredPairs(embeddings)
      .filter(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")

  /** Q66: SEMANTIC DEDUP applied — near-dup pairs at cosine ≥ 0.5
    * resolved into connected components (the same size-adaptive
    * machinery as the lexical q41), keeping each component's canonical
    * (minimum) vector with the count of near-duplicates it absorbed.
    * This is the embedding-space "dedup apply" row a training pipeline
    * feeds downstream, completing the dedup family: exact (q12),
    * MinHash (q13), SimHash (q14/q27), n-gram Jaccard (q15), and
    * embedding-cosine (q65/q66).
    */
  def semanticDedupApply(embeddings: DataFrame): DataFrame = {
    val pairs = embeddingNearDupPairs(embeddings, 0.5)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val vertices = embeddings.select(col("vec_id").as("doc_id"))
    val labels = ClusterOps.connectedComponents(vertices, pairs)
    val sizes = labels.groupBy("canonical_id").agg(count(lit(1)).as("n"))
    labels.filter(col("doc_id") === col("canonical_id"))
      .join(sizes, "canonical_id")
      .select(col("doc_id").as("vec_id"),
        (col("n") - 1).cast("long").as("n_dropped"))
  }

  /** Deterministic pseudo-random hyperplanes: component d of plane p is
    * derived from md5("p:d") mapped to [-1, 1). Engine-portable (no
    * RNG state); any executor recomputes the same planes.
    */
  private def planeComponent(p: Int, d: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$p:$d".getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex, 16).toDouble / math.pow(2, 31)) - 1.0
  }

  /** An IVF index: the corpus with cell assignments + the quantizer
    * centroids. At 100 TB this is a BUILD artifact — trained once
    * (ideally on a sample), the assigned corpus written out partitioned
    * by cell — and reused by every query batch; [[probeIvf]] is the
    * cheap per-query half.
    */
  final case class IvfIndex(assigned: DataFrame, centroids: DataFrame)

  /** Build step: fit the coarse k-means quantizer and assign every
    * corpus vector to its cell.
    *
    * The quantizer trains on a DETERMINISTIC single-partition sample:
    * distributed k-means centroids depend on float reduction order and
    * therefore on partitioning — a fit over the full parallel corpus
    * gives different cells at different cluster sizes, which would
    * make recall (and the q34 gate) parallelism-dependent. The sample
    * is HASH-ordered (not head-of-corpus): vec_id order usually
    * correlates with ingest source, and a head sample would train the
    * quantizer on one region of embedding space. Sample training is
    * also the honest 100 TB design: the quantizer sees a bounded
    * sample; only the cheap assignment transform touches the full
    * corpus.
    */
  def buildIvfIndex(embeddings: DataFrame,
                    trainOpt: Option[DataFrame] = None): IvfIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = embeddings.sparkSession
    import spark.implicits._

    val withFv = par(embeddings).withColumn("fv", array_to_vector(col("embedding")))
    // SELECTION is hash-ordered (unbiased w.r.t. ingest order); the
    // FIT order is vec_id-sorted (stable: adding corpus shards changes
    // which vectors are sampled, never how a given sample is folded).
    // The trainN smallest hash keys are found without ranking the full
    // corpus: a hash-threshold FILTER (the q52 sampling shape) prunes
    // to ~4×trainN expected survivors first, and only those enter the
    // top-K tournament — the filter keeps exactly the rows that could
    // win it, so the selected sample is identical to an unfiltered
    // top-trainN whenever the oversampled threshold holds (the
    // under-delivery fallback in [[trainSample]] covers the vanishing
    // remainder). One parquet count + a per-row filter replaces
    // ranking every corpus row just to pick trainN of them.
    val train = trainOpt.getOrElse(trainSample(embeddings))
      .withColumn("fv", array_to_vector(col("embedding")))
    val model = new KMeans().setK(nlist).setSeed(42L).setMaxIter(5)
      .setFeaturesCol("fv").setPredictionCol("cell").fit(train)
    val assigned = model.transform(withFv)
      .select(col("vec_id"), col("embedding"), col("cell"),
        sqrt(vecDot(col("embedding"), col("embedding"))).as("cn"))
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray.map(_.toFloat).toSeq) }
      .toSeq.toDF("cell", "centroid")
    IvfIndex(assigned, centroids)
  }

  /** The nprobe NEAREST CELLS per query — ||q-c||^2 ranked with the
    * deterministic (dist2, cell) tie-break. THE one copy of the
    * cell-selection expression: probe and append sides must agree on
    * cell assignment or the incremental artifacts corrupt, so every
    * caller (probeIvf, probeIvfPruned, probeIvfPq) routes through
    * here. Input: (query_id, q, qn); output: (p_qid, cell).
    */
  private def nearestCells(queries: DataFrame, centroids: DataFrame): DataFrame =
    queries.crossJoin(broadcast(centroids))
      .withColumn("dist2",
        col("qn") * col("qn") - lit(2) * vecDot(col("q"), col("centroid")) +
          vecDot(col("centroid"), col("centroid")))
      .withColumn("pr", row_number().over(
        Window.partitionBy("query_id").orderBy(col("dist2").asc, col("cell").asc)))
      .filter(col("pr") <= nprobe)
      .select(col("query_id").as("p_qid"), col("cell"))

  /** Frozen-quantizer argmin cell per batch vector — the append-side
    * twin of [[nearestCells]] (same distance, same (dist2, cell)
    * tie-break via the struct-min), shared by [[appendToIvfIndex]]
    * and [[appendToIvfPqIndex]]. min_by over the nlist candidates
    * stays inside the per-row aggregation — no window shuffle of the
    * batch. Input must carry (vec_id, embedding, cn).
    */
  private def assignCells(batch: DataFrame, centroids: DataFrame): DataFrame =
    batch.crossJoin(broadcast(centroids))
      .withColumn("dist2",
        col("cn") * col("cn") - lit(2) * vecDot(col("embedding"), col("centroid")) +
          vecDot(col("centroid"), col("centroid")))
      .groupBy(col("vec_id"))
      .agg(
        first(col("embedding")).as("embedding"),
        min(struct(col("dist2"), col("cell"))).getField("cell").as("cell"),
        first(col("cn")).as("cn"))

  /** Probe step: each query visits only its `nprobe` nearest cells,
    * shrinking the candidate set ~nlist/nprobe. Probe selection is a
    * tiny broadcast cross-join (queries × centroids); candidate scoring
    * joins on the cell key.
    */
  def probeIvf(index: IvfIndex): DataFrame = {
    // nprobe nearest cells per query: ||q-c||² = |q|² - 2q·c + |c|²
    val queries = index.assigned.filter(col("vec_id") < probeQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"), col("cn").as("qn"))
    val probes = nearestCells(queries, index.centroids)

    val cands = index.assigned.join(
        broadcast(probes.join(queries, col("p_qid") === col("query_id"))), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim", sim("q", "embedding", "qn", "cn"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    cands.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= probeK)
      .select("query_id", "rnk", "vec_id", "sim")
  }

  /** Persist an [[IvfIndex]] as a STORAGE ARTIFACT under a [[Scope]]
    * (the same scope-owned dataset lifecycle the reference gives its
    * intermediate tables — reference:
    * src/de/uni_stuttgart/ipvs_as/MapReduceWSIImpl.java:260-261): the
    * assigned corpus is written PARTITIONED BY CELL, so a probe that
    * knows its cells reads only those directories, and the (tiny)
    * centroid table rides beside it. This is the production split the
    * build/probe pair exists for — build once per corpus version,
    * reload and probe from every query batch. Published as one
    * [[graft.io.Artifact]] version, so a killed save is never served.
    */
  def saveIvfIndex(index: IvfIndex, scope: Scope, name: String): Unit =
    graft.io.Artifact.save(index.assigned.sparkSession, scope, name) { at =>
      index.assigned.write.partitionBy("cell").parquet(at("assigned"))
      index.centroids.write.parquet(at("centroids"))
    }

  /** Reload a persisted [[IvfIndex]]; `cell` comes back as a partition
    * column, so filters on it prune at FILE LISTING time — see
    * [[probeIvfPruned]].
    */
  def loadIvfIndex(spark: SparkSession, scope: Scope, name: String): IvfIndex = {
    val m = graft.io.Artifact.read(spark, scope, name)
    IvfIndex(spark.read.parquet(m.table("assigned")),
      spark.read.parquet(m.table("centroids")))
  }

  /** Incremental maintenance: assign a NEW vector batch to the
    * EXISTING quantizer and APPEND the batch's rows to the artifact's
    * cell partitions. The centroids are deliberately frozen —
    * retraining would move cell boundaries and force rewriting every
    * stored row — so the work is O(batch): the stored corpus is never
    * read, and the dynamic-partition append touches only the cell
    * directories the batch actually lands in. The cost of a frozen
    * quantizer is drift: if the ingest distribution moves, recall
    * decays until the next full [[buildIvfIndex]] rebuild — the q83
    * recall gate is the monitor for that. The argmin itself is a
    * broadcast of the (nlist-bounded) centroid table past the batch,
    * one pass, no corpus shuffle.
    */
  def appendToIvfIndex(batch: DataFrame, scope: Scope, name: String): Unit = {
    val spark = batch.sparkSession
    val m = graft.io.Artifact.read(spark, scope, name)
    val assigned = assignCells(withNorm(batch, "embedding", "cn"),
        spark.read.parquet(m.table("centroids")))
      .select(col("vec_id"), col("embedding"), col("cell"), col("cn"))
    assigned.write.mode("append").partitionBy("cell")
      .parquet(m.table("assigned"))
  }

  /** Probe a RELOADED index with STATIC partition pruning: the probed
    * cells are decided driver-side from the centroid table (nlist rows
    * — bounded by construction, like q16's query broadcast) and pushed
    * into the artifact scan as a literal `cell IN (...)`, so the read
    * prunes to the probed directories at file-listing time
    * (PartitionFilters, asserted by PlanSpec). That pruning is the
    * payoff of partitioning the artifact by cell: per query batch the
    * scan cost is nprobe/nlist of the corpus, not a full pass.
    * Queries arrive as their own frame (vec_id, embedding) — a probe
    * against a stored index must not rescan the index to find them.
    */
  def probeIvfPruned(index: IvfIndex, queryVecs: DataFrame): DataFrame = {
    val spark = index.assigned.sparkSession
    val queries = withNorm(queryVecs.filter(col("vec_id") < probeQueries),
        "embedding", "qn")
      .select(col("vec_id").as("query_id"), col("embedding").as("q"), col("qn"))
    val probes = nearestCells(queries, index.centroids)
    // BOUNDED collect: queries × nprobe (query, cell) pairs — never
    // corpus rows — traded for a literal IN the scan can prune on
    val probedRows = probes.collect()
    val cells = probedRows.map(_.get(1)).distinct.toSeq
    val probesLocal = spark.createDataFrame(
      java.util.Arrays.asList(probedRows: _*), probes.schema)
    val pruned = index.assigned.filter(col("cell").isin(cells: _*))
    val cands = pruned
      .join(broadcast(probesLocal.join(queries, col("p_qid") === col("query_id"))),
        Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim", sim("q", "embedding", "qn", "cn"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    cands.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= probeK)
      .select("query_id", "rnk", "vec_id", "sim")
  }

  /** Q16c: IVF approximate kNN — build + probe in one call (the shape
    * the oracle harness drives; production splits the two).
    */
  def ivfKnn(embeddings: DataFrame): DataFrame =
    probeIvf(buildIvfIndex(embeddings))

  /** Self-check gate for an approximate kNN against the exact one,
    * computed in the SAME job: per-query recall@k, emitting only the
    * violations (recall < minRecall). The oracle expectation is the
    * EMPTY set — which DuckDB can check — so the approximate operators
    * get a real correctness signal instead of a rows-only count.
    */
  def knnRecallGate(approx: DataFrame, exact: DataFrame, k: Int,
                    minRecall: Double): DataFrame = {
    // `exact` is the expensive full-corpus scan: reference it ONCE —
    // the per-query denominator rides along as a window count (over ≤k
    // rows per query) instead of a second aggregate over a recomputed
    // copy of the subtree. Denominator is the EXACT result's per-query
    // size, not k: a query whose true neighborhood has fewer than k
    // rows can still score 1.0.
    val e = exact.select("query_id", "vec_id")
      .withColumn("n_exact",
        count(lit(1)).over(Window.partitionBy("query_id")))
    e.join(approx.select(col("query_id"), col("vec_id"), lit(1).as("hit")),
        Seq("query_id", "vec_id"), "left")
      .groupBy("query_id")
      .agg(max("n_exact").as("n_exact"), count("hit").as("n_hits"))
      .withColumn("recall",
        round(col("n_hits").cast("double") / col("n_exact"), 6))
      .filter(col("recall") < minRecall)
      .select("query_id", "recall")
  }

  /** Q28 gate: LSH kNN recall@10 of 5 queries vs the exact scan —
    * violations (recall < 0.8) only.
    */
  def lshKnnRecallGate(embeddings: DataFrame): DataFrame =
    knnRecallGate(lshKnn(embeddings), bruteForceKnn(embeddings), 10, 0.8)

  /** Q34 gate: IVF kNN recall@10 of 5 queries vs the exact scan —
    * violations only. minRecall is 0.7 (vs 0.8 for LSH): the fixture's
    * embeddings are near-random (rank-10 neighbors at cosine ≈ 0.25-0.39), the worst
    * case for a coarse quantizer — measured recall@10 with nprobe=8/16
    * is 0.7-1.0 across sf0.001-sf0.1 (see tools.RecallProbe). On a
    * corpus with real cluster structure the same geometry scores far
    * higher at a smaller probe fraction.
    */
  def ivfKnnRecallGate(embeddings: DataFrame): DataFrame =
    knnRecallGate(ivfKnn(embeddings), bruteForceKnn(embeddings), 10, 0.7)

  /** The LSH code geometry: `numPlanes`-bit codes (16 buckets per
    * table) in `numTables` independent tables. SIZING: 4 planes are
    * tuned for the test fixture; average bucket occupancy is
    * corpus/2^numPlanes, so at corpus scale raise numPlanes until that
    * stays bounded — an undersized code prunes nothing and the
    * "approximate" path silently becomes a full scan.
    */
  private val numPlanes = 4
  private val numTables = 8

  /** Per-table sign-code expression over `numPlanes` hyperplanes;
    * `table` offsets the deterministic plane seeds so tables are
    * independent. The projection runs through the native codegen'd
    * vec_dot against a float-literal plane (only the SIGN is consumed,
    * so float precision is immaterial) — far cheaper than an
    * interpreted per-element lambda.
    */
  private def codeExpr(table: Int): Column =
    (0 until numPlanes).map { p =>
      // the plane's float literals, each the float nearest to the
      // decimal form of its double component
      val plane = (0 until embeddingDim)
        .map(d => lit(planeComponent(table * numPlanes + p, d).toString.toFloat))
      when(vecDot(col("embedding"), array(plane: _*)) >= 0, lit(1 << p))
        .otherwise(lit(0))
    }.reduce(_ + _).cast("int")

  /** One (vec_id, t, code) row per table: the per-table sign code
    * projected ONCE — the plane-literal expression appears exactly
    * `numTables` times in the plan, and every downstream use (bucket
    * join keys, Hamming-1 probes) derives from the MATERIALIZED `code`
    * column by cheap integer ops instead of re-inlining the 64-float
    * vec_dot trees. Keeps the generated class small (janino) and the
    * dot products computed once per (vector, table).
    */
  private def tableCodes(df: DataFrame): DataFrame =
    par(df.select(col("vec_id"), col("embedding")))
      .select(col("vec_id"), explode(array((0 until numTables).map(t =>
          struct(lit(t).as("t"), codeExpr(t).as("code"))): _*)).as("tc"))
      .select(col("vec_id"), col("tc.t").as("t"), col("tc.code").as("code"))

  /** Q16b: approximate top-k via MULTI-TABLE, MULTI-PROBE sign LSH
    * (random-hyperplane hashing per Charikar 2002; multi-probe per
    * Lv et al. 2007, "Multi-Probe LSH") — the standard recipe for
    * usable recall on weak neighbors: each
    * vector gets one `numPlanes`-bit code per table (`numTables`
    * independent tables), and each query additionally probes every
    * code within Hamming distance 1 of its own. Candidates are the
    * equi-join of corpus (table, code) rows against the broadcast
    * query probes — the per-table bucket join that shrinks candidates
    * ~2^numPlanes at scale — deduplicated as narrow id pairs BEFORE
    * the embeddings are re-attached for exact re-scoring, so the wide
    * float arrays never ride a candidate-multiplicity shuffle.
    * Recall is gated against the exact scan by [[lshKnnRecallGate]].
    */
  def lshKnn(embeddings: DataFrame): DataFrame = {
    val corpus = withNorm(embeddings, "embedding", "cn")
    val corpusCodes = tableCodes(corpus)
    // query probes: own code plus each single-bit flip, per table —
    // flips are XORs over the MATERIALIZED code column, so the plane
    // dot products are computed once per (query, table), not once per
    // probe (the round-2 plan inlined the 64-float vec_dot tree ~40×,
    // paying ~5× redundant compute and an 8.6 s janino first-compile).
    val flipArray = ("code" +: (0 until numPlanes)
      .map(j => s"cast(code ^ ${1 << j} as int)"))
      .mkString("array(", ", ", ")")
    // probes FILTER the corpus-code projection rather than re-running
    // it on the query rows: the plane expression exists once in the
    // whole plan, so both sides of the bucket join share one generated
    // projection (one janino compile, one codegen-cache entry)
    val queryProbes = corpusCodes.filter(col("vec_id") < probeQueries)
      .select(col("vec_id").as("query_id"), col("t"),
        explode(expr(flipArray)).as("code"))
    val candIds = corpusCodes.join(broadcast(queryProbes), Seq("t", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id").distinct()
    val queries = corpus.filter(col("vec_id") < probeQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"),
        col("cn").as("qn"))
    val scored = candIds
      .join(corpus.select(col("vec_id"), col("embedding"), col("cn")), "vec_id")
      .join(broadcast(queries), "query_id")
      .withColumn("sim", sim("q", "embedding", "qn", "cn"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= probeK)
      .select("query_id", "rnk", "vec_id", "sim")
  }

  /** A PRODUCT-QUANTIZED corpus (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search"): each vector is split
    * into `m` subvectors and every subvector stored as one byte-sized
    * code into its subspace codebook — m bytes per vector, the rung
    * below int8 (q69) on the ANN storage ladder (64×4 B float32 →
    * 64 B int8 → m B PQ). `codes` is the quantized corpus, `codebooks`
    * the m × 2^nbits centroid table (tiny: broadcast everywhere).
    */
  final case class PqIndex(codes: DataFrame, codebooks: DataFrame,
                           m: Int, dsub: Int)

  /** Corpus row counts memoized per canonical plan, so the six index
    * builds that share one embeddings table pay the sizing count ONCE
    * per process, not once per build. Keyed by semanticHash: a hash
    * collision — or a STALE count after the same path is appended to
    * (the plan canonicalizes identically) — can only mis-SIZE the thin
    * rate (perf: a too-high rate keeps extra rows, a too-low rate
    * trips the under-delivery fallback), never the sample:
    * [[trainSample]] validates delivery from the materialized result.
    */
  private val corpusCounts =
    new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()

  /** The training-sample size of every quantizer fit (IVF cells, PQ
    * codebooks): bounded, so no fit grows with the corpus.
    */
  private val trainN = 2000

  /** The embedding width the LSH planes and the PQ subspace split are
    * laid out for.
    */
  private val embeddingDim = 64

  /** The approximate-kNN geometry every probe shares, replayed by the
    * recall gates and the oracles: the vectors with vec_id below 5 are
    * the queries, each gets its 10 nearest neighbors, and an IVF probe
    * visits the 8 nearest of 16 cells.
    */
  private val probeQueries = 5
  private val probeK = 10
  private val nlist = 16
  private val nprobe = 8

  /** Shared by the IVF and PQ builds: the deterministic hash-sampled,
    * vec_id-sorted, single-partition training frame (see
    * [[buildIvfIndex]]'s scaladoc for why each property matters).
    *
    * ONE corpus pass per build (after the per-corpus sizing count,
    * paid once per process): the hash-threshold thin and the bounded
    * top-trainN tournament run in the same scan, and the winners are
    * MATERIALIZED here (≤ trainN rows — both consumers localize the
    * sample anyway: PQ collects it, IVF fits driver-scheduled k-means
    * on it). Under-delivery — the thinned set holding fewer than
    * trainN rows, a vanishing-probability tail at thin rate 4×trainN/n
    * — is detected from the materialized result's SIZE, not a second
    * driver count() of the candidate set, and falls back to the
    * unthinned tournament; either way the returned sample is exactly
    * the trainN smallest (hash, vec_id) rows of the corpus.
    */
  private def trainSample(embeddings: DataFrame): DataFrame = {
    val spark = embeddings.sparkSession
    val hkey = "(hash(vec_id) & 2147483647)"
    val planKey = embeddings.queryExecution.analyzed.semanticHash()
    val n: Long = corpusCounts.computeIfAbsent(planKey, _ => embeddings.count())
    val rate = if (n == 0) 1.0 else math.min(1.0, 4.0 * trainN / n)
    def pick(src: DataFrame): Array[org.apache.spark.sql.Row] =
      src.orderBy(expr(hkey), col("vec_id")).limit(trainN).collect()
    val thinned =
      if (rate >= 1.0) pick(embeddings)
      else pick(embeddings.filter(
        expr(s"$hkey < ${(rate * (1L << 31)).toLong}L")))
    val rows =
      if (thinned.length >= math.min(trainN.toLong, n)) thinned
      else pick(embeddings) // under-delivered thin: rare, exact fallback
    val idIdx = embeddings.schema.fieldIndex("vec_id")
    val local = new java.util.ArrayList[org.apache.spark.sql.Row](rows.length)
    // getAs[Number]: vec_id is LONG in the fixtures but the sort must
    // not narrow the previously type-agnostic orderBy to one int width
    rows.sortBy(_.getAs[Number](idIdx).longValue()).foreach(local.add)
    spark.createDataFrame(local, embeddings.schema).coalesce(1)
  }

  /** Deterministic Lloyd's k-means with k-means++ seeding, run on the
    * DRIVER over the bounded training sample: seeded RNG + fixed input
    * order → identical centroids on every run and partitioning.
    * Assignment ties resolve to the lowest center index; centers that
    * lose all points keep their position.
    */
  private def localKMeans(pts: Array[Array[Double]], k: Int, seed: Long,
                          iters: Int): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    val n = pts.length
    val d = pts(0).length
    def dist2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var j = 0
      while (j < d) { val t = a(j) - b(j); s += t * t; j += 1 }
      s
    }
    val centers = Array.ofDim[Array[Double]](k)
    centers(0) = pts(rnd.nextInt(n)).clone()
    val minD = new Array[Double](n)
    var i = 0
    while (i < n) { minD(i) = dist2(pts(i), centers(0)); i += 1 }
    var c = 1
    while (c < k) {
      val total = minD.sum
      var pick =
        if (total <= 0) rnd.nextInt(n) // every point already a center
        else {
          var r = rnd.nextDouble() * total; var p = 0
          while (p < n - 1 && r > minD(p)) { r -= minD(p); p += 1 }
          p
        }
      centers(c) = pts(pick).clone()
      i = 0
      while (i < n) {
        val dd = dist2(pts(i), centers(c))
        if (dd < minD(i)) minD(i) = dd
        i += 1
      }
      c += 1
    }
    val assign = new Array[Int](n)
    var it = 0
    while (it < iters) {
      i = 0
      while (i < n) {
        var best = 0; var bestD = Double.MaxValue; var cc = 0
        while (cc < k) {
          val dd = dist2(pts(i), centers(cc))
          if (dd < bestD) { bestD = dd; best = cc }
          cc += 1
        }
        assign(i) = best; i += 1
      }
      val sums = Array.fill(k)(new Array[Double](d))
      val cnts = new Array[Int](k)
      i = 0
      while (i < n) {
        val a = assign(i); cnts(a) += 1
        var j = 0
        while (j < d) { sums(a)(j) += pts(i)(j); j += 1 }
        i += 1
      }
      var cc = 0
      while (cc < k) {
        if (cnts(cc) > 0) {
          var j = 0
          while (j < d) { centers(cc)(j) = sums(cc)(j) / cnts(cc); j += 1 }
        }
        cc += 1
      }
      it += 1
    }
    centers
  }

  /** Build the PQ index: fit one k-means codebook PER SUBSPACE on the
    * deterministic bounded sample, then assign every corpus vector m
    * codes in ONE pass (broadcast codebooks, no shuffle). The fit runs
    * on the DRIVER ([[localKMeans]]): the sample is capped at trainN
    * rows by construction, and a driver loop over it costs
    * milliseconds, where m Spark ml fits cost ~6 scheduled jobs EACH
    * in init/iteration overhead — at m=32 that overhead was 10× the
    * whole query. k is capped at the training-set size so small
    * corpora degrade to storing exact subvectors rather than failing.
    *
    * Assignment is the tree's second deliberate UDF (precedent: the
    * Bloom probe): the per-row argmin over m broadcast codebooks has
    * no expression-API form short of inlining m×256×dsub float
    * literals into codegen (a janino bomb), it runs once per corpus
    * row at BUILD time (not per query), and it reads only the
    * embedding column.
    */
  def buildPqIndex(embeddings: DataFrame,
                   trainOpt: Option[DataFrame] = None): PqIndex = {
    val m = 32
    val dsub = embeddingDim / m
    val spark = embeddings.sparkSession
    import spark.implicits._
    val train = trainOpt.getOrElse(trainSample(embeddings))
      .select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    require(train.nonEmpty, "cannot fit PQ codebooks on an empty corpus")
    val kEff = math.min(256, train.length) // one-byte codes
    val codebooks: Array[Array[Array[Float]]] = Array.tabulate(m) { s =>
      val pts = train.map(v =>
        Array.tabulate(dsub)(j => v(s * dsub + j).toDouble))
      localKMeans(pts, kEff, seed = 42L + s, iters = 5)
        .map(_.map(_.toFloat))
    }
    val codes = encodePqCodes(par(embeddings), codebooks, m, dsub)
    val cbDf = codebooks.zipWithIndex.flatMap { case (cb, s) =>
      cb.zipWithIndex.map { case (cvec, j) => (s, j, cvec.toSeq) }
    }.toSeq.toDF("sub", "code", "centroid")
    PqIndex(codes, cbDf, m, dsub)
  }

  /** Per-subvector nearest-codeword assignment against IN-MEMORY
    * codebooks — the encode half shared by the initial build and the
    * frozen-codebook append ([[appendToIvfPqIndex]]): a per-row map
    * through the broadcast codebooks, no shuffle of the encoded rows.
    */
  private def encodePqCodes(df: DataFrame,
                            codebooks: Array[Array[Array[Float]]],
                            m: Int, dsub: Int): DataFrame = {
    val bcast = df.sparkSession.sparkContext.broadcast(codebooks)
    val assignUdf = udf { (emb: Seq[Float]) =>
      val cbs = bcast.value
      Array.tabulate(m) { s =>
        val cb = cbs(s)
        var best = 0; var bestD = Double.MaxValue; var cc = 0
        while (cc < cb.length) {
          var dd = 0.0; var j = 0
          while (j < dsub) {
            val t = emb(s * dsub + j) - cb(cc)(j); dd += t * t; j += 1
          }
          if (dd < bestD) { bestD = dd; best = cc }
          cc += 1
        }
        best
      }
    }
    df.select(col("vec_id"), assignUdf(col("embedding")).as("codes"))
  }

  /** The codebook TABLE back in [m][code][dsub] array form — the
    * inverse of the build's cbDf flattening, shared by the decode path
    * and the frozen-codebook append.
    */
  private def collectCodebooks(codebooks: DataFrame,
                               m: Int): Array[Array[Array[Float]]] = {
    val rows = codebooks.collect()
    val cbs = Array.ofDim[Array[Float]](m, rows.map(_.getInt(1)).max + 1)
    rows.foreach { r =>
      cbs(r.getInt(0))(r.getInt(1)) = r.getSeq[Float](2).toArray
    }
    cbs
  }

  /** Decode the PQ codes back to float vectors: a PURE PER-ROW map
    * through the broadcast codebooks (the assignment's inverse, same
    * justification) — no explode, no join, no shuffle. An equivalent
    * decode as an explode + codebook join + reassembling aggregate
    * costs a full n×m-row shuffle and was the dominant stage of the
    * q80 probe; production ADC never materializes x̂ at all (per-query
    * LUT summation), so this decode exists for the gate's
    * exact-rescoring path, where per-row cost is all that matters.
    */
  def reconstructPq(index: PqIndex, keep: Seq[String] = Nil): DataFrame = {
    val spark = index.codes.sparkSession
    val m = index.m
    val dsub = index.dsub
    val cbs = collectCodebooks(index.codebooks, m)
    val bcast = spark.sparkContext.broadcast(cbs)
    val decodeUdf = udf { (codes: Seq[Int]) =>
      val cb = bcast.value
      val out = new Array[Float](m * dsub)
      var s = 0
      while (s < m) {
        System.arraycopy(cb(s)(codes(s)), 0, out, s * dsub, dsub)
        s += 1
      }
      out
    }
    index.codes.select(
      (col("vec_id") +: keep.map(col)) :+ decodeUdf(col("codes")).as("embedding"): _*)
  }

  /** Q80: approximate kNN over the PQ-compressed corpus — the ADC
    * shape (asymmetric distance computation: queries stay full
    * precision, only the corpus is quantized). Scoring full-precision
    * queries against the DECODED corpus is mathematically identical to
    * per-query LUT summation (dot(q, x̂) = Σ_sub LUT[sub][code]); the
    * reconstruction form reuses the exact-kNN plan shape, which is the
    * point at test scale — at 100 TB the LUT form avoids materializing
    * x̂, trading the decode join for an m-term per-row lookup sum.
    */
  def pqKnn(embeddings: DataFrame): DataFrame =
    probePq(buildPqIndex(embeddings), embeddings)

  /** The per-query-batch half of the PQ pair (like [[probeIvfPruned]]
    * for IVF): score full-precision queries against an ALREADY-BUILT
    * index — in-memory or reloaded from storage. Queries arrive as
    * their own frame; a probe against a stored index must not rescan
    * the corpus to find them.
    */
  def probePq(index: PqIndex, queryVecs: DataFrame): DataFrame = {
    val recon = withNorm(reconstructPq(index), "embedding", "cn")
    val queries = withNorm(queryVecs, "embedding", "qn")
      .filter(col("vec_id") < probeQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"), col("qn"))
    val scored = recon.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("sim", sim("q", "embedding", "qn", "cn"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= probeK)
      .select("query_id", "rnk", "vec_id", "sim")
  }

  /** Persist a [[PqIndex]] as a STORAGE ARTIFACT under a [[Scope]] —
    * the m-byte codes ARE the 100 TB storage form (the corpus
    * compressed ~16×); the codebooks ride beside them and (m, dsub)
    * in the manifest. Build once per corpus version, reload per query
    * batch — the same split [[saveIvfIndex]] gives the cell-partitioned
    * index.
    */
  def savePqIndex(index: PqIndex, scope: Scope, name: String): Unit =
    graft.io.Artifact.save(index.codes.sparkSession, scope, name,
        "m" -> index.m, "dsub" -> index.dsub) { at =>
      index.codes.write.parquet(at("codes"))
      index.codebooks.write.parquet(at("codebooks"))
    }

  /** Incremental maintenance of the PQ artifact: encode a new batch
    * with the FROZEN stored codebooks and append its code rows —
    * O(batch), stored rows never read or rewritten (q83's shape for
    * the code table; [[appendToIvfPqIndex]] is the compound form).
    * Frozen codebooks drift if the ingest distribution moves; the q80
    * recall gate re-run over the merged index is the monitor.
    */
  def appendToPqIndex(batch: DataFrame, scope: Scope, name: String): Unit = {
    val spark = batch.sparkSession
    val meta = graft.io.Artifact.read(spark, scope, name)
    val (m, dsub) = (meta.int("m"), meta.int("dsub"))
    encodePqCodes(batch,
      collectCodebooks(spark.read.parquet(meta.table("codebooks")), m),
      m, dsub)
      .write.mode("append").parquet(meta.table("codes"))
  }

  def loadPqIndex(spark: SparkSession, scope: Scope, name: String): PqIndex = {
    val meta = graft.io.Artifact.read(spark, scope, name)
    PqIndex(
      spark.read.parquet(meta.table("codes")),
      spark.read.parquet(meta.table("codebooks")),
      meta.int("m"), meta.int("dsub"))
  }

  /** Q80 gate: PQ-ADC recall@10 of 5 queries vs the exact scan —
    * violations only.
    * Geometry and threshold are set for the fixture's near-random
    * embeddings (the hardest case for any quantizer — see the q34
    * note): measured recall@10 with m=32 is 0.9-1.0 across
    * sf0.001-sf0.1 (tools.RecallProbe), so 0.7 gates with margin;
    * structured corpora score far higher at coarser m.
    */
  def pqKnnRecallGate(embeddings: DataFrame): DataFrame =
    knnRecallGate(pqKnn(embeddings), bruteForceKnn(embeddings), 10, 0.7)

  /** Q125: IVF-PQ — the production ANN composition, completing the
    * ladder exact (q16) → LSH (q28) → IVF (q34) → int8 (q69) → PQ
    * (q80): the coarse IVF quantizer prunes each query to `nprobe`
    * cells, and within those cells PQ CODES stand in for the stored
    * vectors (the q80 ADC identity), so the probe touches neither the
    * full corpus nor any full-precision corpus vector. This is the
    * FAISS IVFPQ / DiskANN-style memory shape: m bytes per stored
    * vector plus a cell id; full-precision floats exist only in the
    * bounded query batch.
    *
    * The codes are joined to their cells ONCE at build time (the
    * storage layout real IVF-PQ lists use), so probes are a cell
    * filter + per-row decode of survivors — no probe-time corpus
    * join. Both approximations compound; the joint recall gate vs the
    * exact scan (violations empty, oracle-checked) is the monitor
    * that catches either stage drifting.
    */
  final case class IvfPqIndex(cellCodes: DataFrame, centroids: DataFrame,
                              codebooks: DataFrame, m: Int, dsub: Int)

  def buildIvfPqIndex(embeddings: DataFrame): IvfPqIndex = {
    // ONE train sample feeds both fits — the sample is deterministic
    // for (embeddings, trainN), so results are identical to sampling
    // twice, at half the corpus-scan cost of the compound build
    val train = trainSample(embeddings)
    val ivf = buildIvfIndex(embeddings, trainOpt = Some(train))
    val pq = buildPqIndex(embeddings, trainOpt = Some(train))
    IvfPqIndex(
      pq.codes.join(ivf.assigned.select("vec_id", "cell"), "vec_id"),
      ivf.centroids, pq.codebooks, pq.m, pq.dsub)
  }

  /** Q136: persist the COMPOUND index as one storage artifact — the
    * cell-partitioned (vec_id, codes, cell) rows (m bytes + a cell id
    * per stored vector: the whole 100 TB memory story in one table),
    * with the centroid table, the codebooks, and the (m, dsub)
    * manifest beside them. The parts already persisted separately (q78 IVF,
    * q91 PQ); this is the one index in the ladder whose STORAGE form
    * is the composition, so it gets its own lifecycle: build → save →
    * reload → pruned probe → frozen append → joint recall re-gate.
    */
  def saveIvfPqIndex(index: IvfPqIndex, scope: Scope, name: String): Unit =
    graft.io.Artifact.save(index.cellCodes.sparkSession, scope, name,
        "m" -> index.m, "dsub" -> index.dsub) { at =>
      index.cellCodes.select("vec_id", "codes", "cell")
        .write.partitionBy("cell").parquet(at("cells"))
      index.centroids.write.parquet(at("centroids"))
      index.codebooks.write.parquet(at("codebooks"))
    }

  /** Reload; `cell` comes back as a partition column, so
    * [[probeIvfPq]]'s literal cell filter prunes the artifact scan at
    * file-listing time (PlanSpec-asserted, the q78 contract).
    */
  def loadIvfPqIndex(spark: SparkSession, scope: Scope,
                     name: String): IvfPqIndex = {
    val meta = graft.io.Artifact.read(spark, scope, name)
    IvfPqIndex(
      spark.read.parquet(meta.table("cells")),
      spark.read.parquet(meta.table("centroids")),
      spark.read.parquet(meta.table("codebooks")),
      meta.int("m"), meta.int("dsub"))
  }

  /** Incremental maintenance of the compound artifact: assign a new
    * batch to the FROZEN coarse quantizer (the q83 argmin — broadcast
    * centroid table, per-row min-struct aggregation, no corpus
    * shuffle) and encode it with the FROZEN codebooks (the build's own
    * per-row assignment), then dynamic-partition-append into only the
    * cell directories the batch lands in. O(batch): stored rows are
    * never read or rewritten. Both quantizers frozen means BOTH can
    * drift if the ingest distribution moves — the q136 joint recall
    * gate re-run after every merge is the monitor, exactly q83's
    * contract compounded.
    */
  def appendToIvfPqIndex(batch: DataFrame, scope: Scope, name: String): Unit = {
    val spark = batch.sparkSession
    val meta = graft.io.Artifact.read(spark, scope, name)
    val (m, dsub) = (meta.int("m"), meta.int("dsub"))
    val centroids = spark.read.parquet(meta.table("centroids"))
    val assigned = assignCells(withNorm(batch, "embedding", "cn"), centroids)
      .select("vec_id", "cell")
    val codes = encodePqCodes(batch,
      collectCodebooks(spark.read.parquet(meta.table("codebooks")), m),
      m, dsub)
    codes.join(assigned, "vec_id")
      .select("vec_id", "codes", "cell")
      .write.mode("append").partitionBy("cell")
      .parquet(meta.table("cells"))
  }

  def probeIvfPq(index: IvfPqIndex, queryVecs: DataFrame): DataFrame = {
    val spark = index.cellCodes.sparkSession
    val queries = withNorm(queryVecs.filter(col("vec_id") < probeQueries),
        "embedding", "qn")
      .select(col("vec_id").as("query_id"), col("embedding").as("q"), col("qn"))
    val probes = nearestCells(queries, index.centroids)
    // bounded collect, as in probeIvfPruned: queries × nprobe pairs
    val probedRows = probes.collect()
    val cells = probedRows.map(_.get(1)).distinct.toSeq
    val probesLocal = spark.createDataFrame(
      java.util.Arrays.asList(probedRows: _*), probes.schema)
    // decode ONLY cell-filtered survivors — the filter runs on the
    // compact (vec_id, cell, codes) rows before any reconstruction
    val pruned = index.cellCodes.filter(col("cell").isin(cells: _*))
    val recon = withNorm(
      reconstructPq(PqIndex(pruned, index.codebooks, index.m, index.dsub),
        keep = Seq("cell")),
      "embedding", "cn")
    val cands = recon
      .join(broadcast(probesLocal.join(queries, col("p_qid") === col("query_id"))),
        Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim", sim("q", "embedding", "qn", "cn"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    cands.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= probeK)
      .select("query_id", "rnk", "vec_id", "sim")
  }

  /** Q125 gate: IVF-PQ recall@10 of 5 queries vs the exact scan —
    * violations (recall < 0.6) only.
    */
  def ivfPqKnnRecallGate(embeddings: DataFrame): DataFrame =
    knnRecallGate(probeIvfPq(buildIvfPqIndex(embeddings), embeddings),
      bruteForceKnn(embeddings), 10, 0.6)

  /** Q69: INT8 scalar quantization — the storage/bandwidth scale path
    * for the embedding column: per-vector symmetric max-abs scaling to
    * int8 codes (4× smaller than float32, the standard first step
    * before IVF/PQ indexes; reconstruction x̂ = q·maxabs/127 bounds
    * per-element error at maxabs/254). Pure expression pipeline —
    * per-row, no shuffle, whole-stage codegen; all arithmetic in
    * DOUBLE in a fixed order so the DuckDB oracle reproduces the codes
    * bit-for-bit. Zero vectors (maxabs = 0) quantize to all-zero codes
    * rather than dividing by zero.
    */
  def quantizeInt8(embeddings: DataFrame): DataFrame =
    embeddings
      .withColumn("maxabs", expr(
        "array_max(transform(embedding, x -> abs(cast(x as double))))"))
      .withColumn("q", expr(
        """transform(embedding, x ->
          |  case when maxabs = 0D then 0
          |       else cast(round(cast(x as double) * 127.0D / maxabs) as int)
          |  end)""".stripMargin))

  /** The q69 registry surface: a per-vector digest of the codes (sum,
    * min, max, scale) — pins every code's value through the oracle
    * without shipping 64-wide arrays through the comparator.
    */
  def quantizeInt8Summary(embeddings: DataFrame): DataFrame =
    quantizeInt8(embeddings).select(
      col("vec_id"),
      expr("aggregate(q, cast(0 as bigint), (a, x) -> a + cast(x as bigint))")
        .as("q_sum"),
      expr("array_min(q)").as("q_min"),
      expr("array_max(q)").as("q_max"),
      round(col("maxabs") / 127.0, 6).as("scale6"))

  /** Q113: PER-LABEL EMBEDDING CENTROIDS — the class-mean vectors an
    * ANN deployment monitors for quantizer drift (centroids wandering
    * from the IVF cells they trained, q34/q83) and a training pipeline
    * uses for class prototypes. Floating-point SUMS are
    * order-dependent under shuffle, so the mean is computed in exact
    * FIXED-POINT: each component is scaled by 2^[[fxBits]] (a
    * power-of-two scale is exact in double) and rounded to a long once
    * per element — the per-element rounding is deterministic, the long
    * sum is associative, and the single final division is one IEEE op,
    * so any engine reproduces the centroid bit-for-bit (the q113
    * oracle does). Plan shape: one explode + one (label, dim)-keyed
    * aggregation — map-side partials bound the shuffle at
    * labels × dims × partitions rows regardless of corpus size.
    */
  /** The mergeable SUM form of [[labelCentroids]]: (label, dim, ssum,
    * n). Long sums are associative, so sums from disjoint corpus
    * slices merge by addition into EXACTLY the full-corpus sums — the
    * property q129 turns into an incremental artifact.
    */
  def labelCentroidSums(embeddings: DataFrame,
                        labelCol: String = "label"): DataFrame = {
    // round-16: quantize the whole vector in one native pass
    // (vec_quantize_fx — Spark Round semantics per element, pinned in
    // VectorFixedPointSpec) and explode LONGS, instead of exploding
    // floats and paying an interpreted Round per (row × dim). Same
    // per-element values, same aggregation, same shuffle shape.
    par(embeddings)
      .select(col(labelCol), posexplode(
        vecQuantizeFx(col("embedding"), fxBits)).as(Seq("dim", "vq")))
      .groupBy(labelCol, "dim")
      .agg(sum(col("vq")).as("ssum"), count(lit(1)).as("n"))
  }

  /** Q129: merge stored sums with a fresh batch's sums — O(batch)
    * plus a (labels × dims)-bounded combine; history rows never
    * re-read. Because every partial is an exact long, the merged
    * centroid is BIT-IDENTICAL to a full recompute (q129's oracle is
    * the full-corpus q113 SQL, not an approximation gate).
    */
  def mergeCentroidSums(sumSets: Seq[DataFrame]): DataFrame = {
    require(sumSets.nonEmpty, "need at least one sum set")
    sumSets.reduce(_.unionByName(_))
      .groupBy("label", "dim")
      .agg(sum("ssum").as("ssum"), sum("n").as("n"))
  }

  /** Finalize sums into the [[labelCentroids]] output shape. */
  def centroidsFromSums(sums: DataFrame,
                        labelCol: String = "label"): DataFrame = {
    val s = 1L << fxBits
    sums.select(col(labelCol), col("dim"),
      (col("ssum").cast("double") / (col("n") * s)).as("centroid"),
      col("n"))
  }

  def labelCentroids(embeddings: DataFrame,
                     labelCol: String = "label"): DataFrame =
    centroidsFromSums(labelCentroidSums(embeddings, labelCol), labelCol)

  /** The fixed-point scale exponent of the exact vector operators: a
    * component quantizes to a long at 2^20.
    */
  private val fxBits = 20

  /** Q114: one EXACT distributed Lloyd (k-means) iteration — the
    * building block of the IVF quantizer fit (q34/q83) exposed as a
    * deterministic, engine-reproducible operator.
    *
    * Every stage that another engine must reproduce is integer-exact:
    * seeds are the k corpus rows with the smallest md5-derived unit
    * hash (the q52/q110 hash family — stable across engines and
    * corpus partitioning); assignment measures squared L2 distance on
    * 2^[[fxBits]] fixed-point vectors, so the argmin compares LONGS
    * (no FP summation-order hazard; the worst case |dx| ≤ 2^21,
    * dims·dx² < 2^48 fits a long), ties broken by seed rank; the
    * update is the [[labelCentroids]] fixed-point mean. The oracle
    * replays all three stages to the bit.
    *
    * 100 TB shape: seed selection is a TakeOrdered (per-partition
    * k-heaps, k rows to the driver — k is user-small by definition);
    * assignment ships the k quantized seed vectors as a plan literal
    * and runs as a per-row map (k·dims integer ops, NO join and no
    * shuffle — see [[kmeansAssign]]); the update shuffles map-side
    * partials bounded by k × dims × partitions.
    * Iterating calls this with `seeds` = the previous step's output.
    */
  private def quantFx(c: Column, s: Long): Column =
    transform(c, x => round(x.cast("double") * s).cast("long"))

  /** The seed table of [[kmeansStep]]: the k corpus rows with the
    * smallest md5-derived hash, ranked 1..k, vectors pre-quantized.
    */
  def kmeansSeeds(embeddings: DataFrame, k: Int): DataFrame = {
    val hk = conv(substring(md5(concat(col("vec_id").cast("string"),
      lit(":seed"))), 1, 8), 16, 10).cast("long")
    par(embeddings)
      .select(col("vec_id"), col("embedding"), hk.as("hk"))
      .orderBy(col("hk").asc, col("vec_id").asc).limit(k)
      .select(row_number().over(Window.orderBy(col("hk").asc, col("vec_id").asc))
          .cast("int").as("cid"),
        quantFx(col("embedding"), 1L << fxBits).as("sq"))
  }

  /** The assignment stage of [[kmeansStep]]: each vector mapped to its
    * nearest seed by integer squared L2 (`d2`), ties by seed rank.
    *
    * The k seed vectors ship as ONE literal array in the plan, so the
    * argmin is a pure per-row expression — no join, no corpus shuffle,
    * nothing to re-aggregate. (The first cut was
    * `crossJoin(broadcast(seeds)) + groupBy(vec_id).agg(min(struct))`,
    * which plans as a nested-loop replicate × k followed by a corpus
    * shuffle into a SortAggregate — k-fold the I/O for the same
    * arithmetic. Plan audit caught it; this form is a single Project.)
    * Carries the original float vector so the update stage needs no
    * second corpus join.
    */
  def kmeansAssign(embeddings: DataFrame, seeds: DataFrame): DataFrame = {
    val sp = embeddings.sparkSession
    import sp.implicits._
    val seedRows: Seq[(Int, Seq[Long])] = seeds.collect()
      .map(r => (r.getAs[Int]("cid"),
        r.getSeq[Long](r.fieldIndex("sq")).toSeq))
      .sortBy(_._1).toSeq
    // round-16: the argmin is the native l2q_argmin (quantize + k
    // squared-L2 scans + tie-to-smaller-cid in one primitive loop) —
    // the transform/zip_with/array_sort chain it replaces evaluated
    // interpreted lambdas per (row × seed × dim) and sorted k structs
    // per row; equivalence pinned in VectorFixedPointSpec. Still a
    // single Project: seeds ship as one plan literal, no join, no
    // corpus shuffle.
    par(embeddings)
      .withColumn("__seeds", typedlit(seedRows))
      .withColumn("m", l2qArgmin(col("embedding"), col("__seeds"), fxBits))
      .select(col("vec_id"), col("m.cid").as("cluster"),
        col("m.d2").as("d2"), col("embedding"))
  }

  def kmeansStep(embeddings: DataFrame): DataFrame =
    labelCentroids(
      kmeansAssign(embeddings, kmeansSeeds(embeddings, kmeansK))
        .select(col("cluster"), col("embedding")),
      labelCol = "cluster")

  /** The k of [[kmeansStep]] and [[kmeans]]. */
  private val kmeansK = 8

  /** Q117: ITERATED exact k-means — [[kmeansStep]] composed 3 times,
    * each round's fixed-point centroids re-quantized as the next
    * round's seeds. Because every stage of every round is integer-
    * exact, the full t-round trajectory is engine-reproducible: the
    * oracle replays all rounds and must land on the identical final
    * centroids.
    *
    * The k × dims centroid table is collected per round — bounded by
    * the model size, not the data (the same driver-side budget as
    * broadcasting any model) — so each round's plan stays one
    * broadcast + one map + one bounded aggregation rather than a
    * t-deep recursive plan. Clusters that capture no vectors drop out
    * (standard Lloyd behavior, reproduced by the oracle).
    */
  def kmeans(embeddings: DataFrame): DataFrame = {
    val sp = embeddings.sparkSession
    import sp.implicits._
    val s = 1L << fxBits
    var seeds = kmeansSeeds(embeddings, kmeansK)
    var cents: DataFrame = null
    for (_ <- 1 to 3) {
      cents = labelCentroids(
        kmeansAssign(embeddings, seeds)
          .select(col("cluster"), col("embedding")),
        labelCol = "cluster")
      val next = cents.collect()
        .groupBy(_.getAs[Int]("cluster"))
        .toSeq
        .map { case (cid, rows) =>
          (cid, rows.sortBy(_.getAs[Int]("dim")).map(r =>
            BigDecimal(r.getAs[Double]("centroid") * s)
              .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).toSeq)
        }.sortBy(_._1)
      seeds = next.toDF("cid", "sq")
    }
    cents
  }

  /** Q116: HYBRID retrieval — dense cosine kNN and sparse lexical
    * overlap fused by reciprocal-rank fusion (RRF: Σ 1/(c + rank),
    * the standard c = 60). The fusion works on RANKS, never raw
    * scores, so the two scoring scales need no calibration and the
    * arithmetic is a two-term double chain any engine reproduces.
    *
    * Dense list: the [[bruteForceKnn]] machinery (per-corpus-row dot
    * products against the 5 broadcast query vectors). Sparse list:
    * distinct-token overlap with the query document — the token
    * stream joins a BROADCAST query-token table, so the corpus-side
    * pass is map-side; the only shuffles are the two per-query-bounded
    * rank windows and the (query, doc)-keyed overlap count. At 100 TB
    * both lists stay bounded by queries × perList before the fuse —
    * the full-outer join and final top-k touch only candidate rows,
    * never the corpus.
    */
  def hybridSearch(documents: DataFrame, embeddings: DataFrame): DataFrame = {
    import OpsUtil.tokens
    val perList = 20
    val dense = bruteForceKnn(embeddings, k = perList)
      .select(col("query_id"), col("vec_id").as("doc_id"),
        col("rnk").as("r_vec"))
    val toks = par(documents).select(col("doc_id"),
      explode(array_distinct(tokens)).as("token"))
    val qToks = toks.filter(col("doc_id") < probeQueries)
      .select(col("doc_id").as("query_id"), col("token"))
    val overlap = toks.join(broadcast(qToks), Seq("token"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_shared"))
    val wl = Window.partitionBy("query_id")
      .orderBy(col("n_shared").desc, col("doc_id").asc)
    val sparse = overlap
      .withColumn("r_lex", row_number().over(wl).cast("int"))
      .filter(col("r_lex") <= perList)
      .select("query_id", "doc_id", "r_lex")
    val fused = dense.join(sparse, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(60) + col("r_vec")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0.0)), 6))
    val wf = Window.partitionBy("query_id")
      .orderBy(col("rrf").desc, col("doc_id").asc)
    fused.withColumn("rnk", row_number().over(wf).cast("int"))
      .filter(col("rnk") <= probeK)
      .select(col("query_id"), col("rnk"), col("doc_id"), col("rrf"),
        col("r_vec"), col("r_lex"))
  }

  /** Q119: CENTROID-DISTANCE OUTLIERS — the embedding-space data-
    * cleaning gate: the 5 vectors FARTHEST from their own label's
    * centroid per label, i.e. the mislabeled / corrupted / off-
    * distribution rows a training pipeline inspects or drops before a
    * run (the distance the drift monitors of q113 alarm on, applied
    * row-wise).
    *
    * Every stage is integer-exact so the ranking reproduces on any
    * engine: vectors quantize to 2^[[fxBits]] fixed-point longs (the
    * q113/q114 family), each label centroid is the fixed-point mean
    * RE-quantized to longs by the q117 chain (one double division, one
    * half-away-from-zero round — proven engine-stable there), and the
    * distance is a LONG squared-L2 sum (|dx| < 2^22, dims·dx² < 2^50 —
    * no FP summation-order hazard), ties broken by vec_id.
    *
    * 100 TB shape: the centroid table is labels × dims — model-sized,
    * collected and shipped as ONE map literal in the plan (the
    * [[kmeansAssign]] pattern), so the distance is a pure per-row
    * expression with NO join and no corpus shuffle; the only shuffle
    * is the per-label top-k window, map-side-bounded by
    * WindowGroupLimit at topK × partitions rows per label.
    */
  def centroidOutliers(embeddings: DataFrame): DataFrame = {
    val sp = embeddings.sparkSession
    import sp.implicits._
    // the collected centroid map and the element_at key below both
    // read the label as Int — fail at plan time on any other type
    // instead of a ClassCastException mid-job
    require(embeddings.schema("label").dataType ==
        org.apache.spark.sql.types.IntegerType,
      s"centroidOutliers requires an INT label column, got " +
        s"${embeddings.schema("label").dataType.simpleString} for 'label'")
    val s = 1L << fxBits
    val cents: Map[Int, Seq[Long]] = labelCentroids(embeddings)
      .collect()
      .groupBy(_.getAs[Int]("label"))
      .map { case (label, rows) =>
        (label, rows.sortBy(_.getAs[Int]("dim")).map(r =>
          BigDecimal(r.getAs[Double]("centroid") * s)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).toSeq)
      }
    val w = Window.partitionBy("label")
      .orderBy(col("d2").desc, col("vec_id").asc)
    // round-16: the per-row distance is the native vec_l2q (quantize +
    // squared L2 in one loop; VectorFixedPointSpec) — replacing the
    // interpreted quantFx + zip_with/aggregate chain
    par(embeddings)
      .select(col("label"), col("vec_id"), col("embedding"),
        typedlit(cents).as("__cents"))
      .withColumn("d2", vecL2Q(col("embedding"),
        element_at(col("__cents"), col("label")), fxBits))
      .withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= 5)
      .select(col("label"), col("rnk"), col("vec_id"), col("d2"))
  }
}
