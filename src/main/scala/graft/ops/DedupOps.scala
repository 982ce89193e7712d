package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.SignatureFunctions

/** Deduplication operators for the training-data pipeline surface
  * (SURVEY §2.2 Q12): exact, MinHash+LSH (Broder 1997, "On the
  * resemblance and containment of documents"), SimHash (Charikar 2002,
  * "Similarity estimation techniques from rounding algorithms"),
  * n-gram Jaccard over an inverted shingle index.
  *
  * Scale design (100 TB): every variant is shuffle-bounded —
  *  - exact: one hash-partitioned aggregation on a 128-bit digest
  *    (shuffle carries (digest, doc_id), never the text);
  *  - MinHash/LSH: signatures are computed partition-local from
  *    shingles (explode → partial min-agg map-side), candidate pairs
  *    come from a self-equi-join on (band, bandHash) — i.e. only
  *    near-collisions ever meet, no O(n²) anywhere;
  *  - SimHash: one pass to 64 signature rows/doc partials, banded
  *    byte-join for candidates, Hamming filter on a single long;
  *  - Jaccard: inverted-index equi-join on shingle (selective because
  *    shingles are n-grams, not unigrams), count-based exact Jaccard.
  *
  * Hashing is md5-based (not Spark's murmur `hash()`) so signatures
  * are engine-portable and the DuckDB oracle reproduces them exactly.
  */
object DedupOps {

  import OpsUtil.{par, shingles, tokens}

  /** THE content fingerprint of the dedup family — batch exactDedup,
    * streaming dedup, and the q12 oracle all normalize identically;
    * change them together or the family diverges silently.
    */
  val contentFingerprintSql: String = "md5(lower(trim(text)))"

  /** Q12: exact dedup by content digest of the normalized text.
    * Emits one row per distinct content: representative (min) doc_id
    * + multiplicity. `dropDuplicates` gives the same via built-ins;
    * this form also reports group sizes.
    */
  def exactDedup(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), expr(contentFingerprintSql).as("fp"))
      .groupBy("fp")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "fp", "n_copies")

  /** Q13: MinHash + LSH banding near-dup candidates. Bands of
    * `bandSize` consecutive signature slots are hashed; docs sharing
    * any (band, bandHash) bucket become a candidate pair. The band
    * explode emits (numHashes/bandSize) small rows per doc; candidates
    * come from an equi-join on (band, bandHash) — only near-collisions
    * ever meet.
    */
  /** (doc_id, b, bh): each document's LSH band hashes — the bucketing
    * key of the candidate join, shared by the full-corpus pair
    * generator and the incremental (new-vs-existing) variant.
    */
  def minhashBands(documents: DataFrame, numHashes: Int = 12,
                   bandSize: Int = 2, shingleSize: Int = 3): DataFrame = {
    // a remainder would silently DROP the trailing signature slots —
    // recall would be that of a smaller scheme while still paying for
    // the unused hashes, and the broken geometry would persist into
    // the band artifact; fail fast instead
    require(numHashes % bandSize == 0,
      s"numHashes ($numHashes) must be a multiple of bandSize ($bandSize)")
    // round-16: the fused per-row native form (graft.functions
    // MinhashBands) — same md5 seeds, same lexicographic minima, same
    // band hashes (SignatureFunctionsSpec pins equivalence to the
    // explode+groupBy-min shape this replaced). A document's shingles
    // all come from its own row, so the per-document minima never
    // needed an exchange: this removes one corpus-wide HashAggregate +
    // Exchange per invocation AND the per-shingle hex/string churn
    // (one reused digest, byte-compared minima).
    par(documents)
      .withColumn("w", tokens)
      .select(col("doc_id"), explode(
        SignatureFunctions.minhashBands(col("w"), numHashes, bandSize, shingleSize))
        .as("band"))
      .select(col("doc_id"), col("band.b").as("b"), col("band.bh").as("bh"))
  }

  /** The PER-ROW (shuffle-free) form of [[minhashBands]]: each
    * signature slot is `array_min(transform(shingles, ...))` instead
    * of an explode + groupBy-min, so the whole band computation is a
    * stateless projection. Required by the STREAMING near-dup path —
    * a stream-static join must stay stateless upstream of the join,
    * and an aggregation there would force a stateful shuffle per
    * micro-batch — and bit-identical to the batch form (same md5
    * seeds, same lexicographic minima; asserted by DedupOpsSpec).
    * The batch operators keep the explode+groupBy shape because its
    * map-side partial min-agg shuffles one narrow row per doc, while
    * this form holds the full shingle array per row.
    */
  def minhashBandsRowwise(documents: DataFrame): DataFrame = {
    // round-16: same fused native expression as the batch form — the
    // two paths can no longer diverge because they ARE one computation
    // (the explode of an empty band array drops shingle-less docs,
    // replacing the explicit size(sarr) > 0 filter bit-identically).
    documents
      .withColumn("w", tokens)
      .select(col("doc_id"),
        explode(SignatureFunctions.minhashBands(col("w"), 12, 2, 3)).as("band"))
      .select(col("doc_id"), col("band.b").as("b"), col("band.bh").as("bh"))
  }

  def minhashLshPairs(documents: DataFrame): DataFrame =
    lshPairsFromBands(minhashBands(documents))

  /** The candidate-pair join over an already-built band table — shared
    * by the inline path and the STORED band artifact (q137), which is
    * why it is its own function: pairs from reloaded bands must be the
    * same equi-join as pairs from fresh ones.
    */
  def lshPairsFromBands(bands: DataFrame): DataFrame =
    lshEdges(bands).distinct()

  /** [[lshPairsFromBands]] before its `distinct`: a pair sharing
    * several buckets appears once per bucket. For callers that
    * deduplicate edges themselves ([[ClusterOps]]' flagship graph
    * unions three generators and deduplicates once).
    */
  private[ops] def lshEdges(bands: DataFrame): DataFrame = {
    val l = bands.select(col("doc_id").as("doc_a"), col("b"), col("bh"))
    val r = bands.select(col("doc_id").as("doc_b"), col("b"), col("bh"))
    l.join(r, Seq("b", "bh"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
  }

  /** Q137: the MinHash BAND TABLE as a maintained storage artifact —
    * the table every incremental dedup form in the suite presupposes
    * (q60's cross-candidates, q82's stream-static join, and q135's
    * merge all say "in production the existing side's band table is a
    * maintained build artifact"; this IS that artifact). Rows land
    * partitioned by band index `b`, and the banding GEOMETRY
    * (numHashes, bandSize, shingleSize) rides beside them as metadata:
    * bands built under one geometry are meaningless under another, so
    * [[appendBands]] re-derives the batch's bands from the artifact's
    * own recorded parameters instead of trusting the caller (the q128
    * nBuckets lesson). Append is O(batch): stored rows are never read
    * or rewritten, and the band computation is stateless per document,
    * so append-then-join is bit-identical to a full rebuild — q137
    * runs the STORED artifact's self-join against q13's full-corpus
    * oracle. CONTRACT: append batches must be doc-disjoint from the
    * stored corpus (re-ingesting a doc would duplicate its bands;
    * dedup upstream is q59's job). No
    * production call passes `numHashes`; ArtifactSpec's killed-save spec
    * varies it to prove a killed re-save never serves rows under the
    * other geometry.
    */
  def saveBands(documents: DataFrame, scope: graft.core.Scope,
                name: String, numHashes: Int = 12): Unit = {
    graft.io.Artifact.save(documents.sparkSession, scope, name,
        "num_hashes" -> numHashes, "band_size" -> 2,
        "shingle_size" -> 3) { at =>
      minhashBands(documents, numHashes, 2, 3)
        .write.partitionBy("b").parquet(at("rows"))
    }
  }

  def appendBands(batch: DataFrame, scope: graft.core.Scope,
                  name: String): Unit = {
    val g = graft.io.Artifact.read(batch.sparkSession, scope, name)
    appendBandRows(minhashBands(batch, g.int("num_hashes"),
      g.int("band_size"), g.int("shingle_size")), scope, name)
  }

  /** Append PRE-COMPUTED band rows (they must come from
    * [[minhashBands]] under the manifest's geometry — the streaming
    * maintainer computes them once for its candidate join and appends
    * the same frame instead of re-deriving).
    */
  def appendBandRows(bands: DataFrame, scope: graft.core.Scope,
                     name: String): Unit =
    bands.select("doc_id", "b", "bh")
      .write.mode("append").partitionBy("b")
      .parquet(graft.io.Artifact.read(bands.sparkSession, scope, name).table("rows"))

  def loadBands(spark: org.apache.spark.sql.SparkSession,
                scope: graft.core.Scope, name: String): DataFrame =
    graft.io.Artifact.load(spark, scope, name)
      .select(col("doc_id"), col("b").cast("long").as("b"), col("bh"))

  /** Q59: INCREMENTAL exact dedup — the daily-ingest primitive: admit
    * from `newDocs` only content whose fingerprint is absent from the
    * EXISTING corpus, then dedup within the batch (min doc_id wins).
    * History participates only as a narrow fingerprint set on the
    * anti-join build side — nothing about the existing corpus is
    * re-read wide or re-clustered, which is what makes daily ingest
    * at corpus scale O(batch), not O(corpus).
    */
  def incrementalExactDedup(newDocs: DataFrame, existing: DataFrame): DataFrame = {
    val existingFp = existing.select(expr(contentFingerprintSql).as("fp_ex")).distinct()
    val newFps = newDocs.select(col("doc_id"), expr(contentFingerprintSql).as("fp"))
    // NULL-SAFE anti-join: batch exactDedup groups null fingerprints
    // (null text) into one group, so the incremental form must also
    // dedup a null-text doc against null-text history — a plain
    // equality anti-join never matches null and would re-admit such a
    // doc on every single ingest, diverging from the full recompute
    newFps
      .join(existingFp, newFps("fp") <=> existingFp("fp_ex"), "left_anti")
      .groupBy("fp")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "fp", "n_copies")
  }

  /** Q61: Bloom-accelerated incremental exact dedup — the 100 TB form
    * of [[incrementalExactDedup]]. History's fingerprint set can be
    * billions of rows; a Bloom filter over it is a BOUNDED build
    * artifact (sized for 10^6 fingerprints at 1% fpp here; ~1.2 GB
    * for 10^9) that each ingest batch broadcasts and probes
    * per-row. The filter alone would be approximate (false positives
    * drop fresh content), so rows the filter flags are re-checked with
    * the EXACT anti-join — but that join's probe side has shrunk to
    * the true-dup + fpp fraction of the batch, and definite-fresh rows
    * (filter says no) never shuffle at all. Result is bit-identical to
    * the exact operator: q61 runs against q59's own oracle.
    *
    * The probe is a broadcast-sketch UDF — the one deliberate UDF in
    * the tree: Spark exposes no public expression form for probing a
    * `util.sketch.BloomFilter`, and the UDF runs on the already-narrow
    * fp column, never on document payloads.
    */
  def incrementalExactDedupBloom(newDocs: DataFrame, existing: DataFrame): DataFrame = {
    val fps = newDocs.select(col("doc_id"), expr(contentFingerprintSql).as("fp"))
    val bloom = existing.select(expr(contentFingerprintSql).as("fp"))
      .stat.bloomFilter("fp", 1000000L, 0.01)
    val bloomBc = newDocs.sparkSession.sparkContext.broadcast(bloom)
    // null fp (null text) routes through the exact re-check: the
    // anti-join is null-safe (the q59 semantics — null-text history
    // dedups null-text ingest), so a null fp is always "maybe dup"
    // rather than "definitely fresh" (a Bloom filter cannot represent
    // null membership either way)
    val mightExist = udf((fp: String) =>
      fp == null || bloomBc.value.mightContainString(fp))
    // both union branches read `flagged` — persist the narrow
    // (doc_id, fp, flag) rows so the batch is scanned, fingerprinted,
    // and Bloom-probed once, not once per branch
    val flagged = fps.withColumn("maybe_dup", mightExist(col("fp"))).persist()
    try {
      // definite-fresh rows skip the anti-join; maybe-dups get the exact
      // re-check so Bloom false positives cannot drop fresh content;
      // the re-check join is NULL-SAFE to match q59
      val existingFp = existing.select(expr(contentFingerprintSql).as("fp_ex")).distinct()
      val maybe = flagged.filter(col("maybe_dup"))
      val confirmedFresh = maybe
        .join(existingFp, maybe("fp") <=> existingFp("fp_ex"), "left_anti")
        .select("doc_id", "fp")
      val result = flagged.filter(!col("maybe_dup")).select("doc_id", "fp")
        .unionByName(confirmedFresh)
        .groupBy("fp")
        .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
        .select("doc_id", "fp", "n_copies")
      // materialize EAGERLY (localCheckpoint truncates lineage into
      // executor-local blocks that the ContextCleaner releases when the
      // caller drops the frame) so `flagged` can be unpersisted before
      // returning — otherwise every invocation would leak a cached
      // dataset for the session lifetime with no caller-side hook.
      // The checkpointed rows are O(ingest batch) by design, never
      // O(corpus): bounded at any scale. CAVEAT: executor-local blocks
      // die with their executor — losing one makes the returned frame
      // unrecomputable. Fine in local/bench mode; on a cluster where
      // executor loss must be survivable, use reliable checkpoint()
      // (spark.sparkContext.setCheckpointDir) or have the caller
      // manage `flagged`'s unpersist around its own consumption.
      result.localCheckpoint(eager = true)
    } finally flagged.unpersist()
  }

  /** Q60: incremental near-dup candidates — new-batch documents that
    * share an LSH band bucket with the existing corpus (cross pairs
    * only; within-batch pairs go through the usual [[minhashLshPairs]]
    * path). In production the existing side's band table is a
    * maintained build artifact, so each ingest batch joins its own
    * bands against it — the same bucketed equi-join shape as q13,
    * never an all-pairs pass over history.
    */
  def incrementalNearDupCandidates(newDocs: DataFrame,
                                   existing: DataFrame): DataFrame = {
    val nb = minhashBands(newDocs)
      .select(col("doc_id").as("doc_new"), col("b"), col("bh"))
    val eb = minhashBands(existing)
      .select(col("doc_id").as("doc_existing"), col("b"), col("bh"))
    nb.join(eb, Seq("b", "bh"))
      .select("doc_new", "doc_existing").distinct()
  }

  /** SimHash geometry: 60-bit signature, 4 bands × 15 bits. 60 (not
    * 64) because the widest md5 prefix that fits a SIGNED 64-bit int on
    * both engines is 15 hex chars (2^60-1 < 2^63) — a 16-char prefix
    * overflows `CAST AS BIGINT` in Spark (null) and DuckDB (error).
    * 15-bit bands give 32,768 buckets per band, so candidate pairs at
    * corpus size n grow O(n²/32768) — 32× fewer than the previous
    * 4×8-bit byte banding, which made pair generation near-quadratic.
    */
  val simhashBits = 60
  val simhashBandBits = 15
  val simhashBands = 4

  /** Q14: 60-bit SimHash signature per document: per-bit majority vote
    * over token hashes (token hash = first 15 hex chars of md5 →
    * 60-bit int). All 60 bit-votes are aggregate columns of ONE hash
    * aggregation over the token rows (no 60× bit explode); the final
    * select assembles the signature from the vote signs.
    */
  def simhashSignatures(documents: DataFrame): DataFrame = {
    // round-16: fused per-row native form (graft.functions.Simhash60)
    // — same per-token `conv(substr(md5(tok),1,15),16,10)` hash, same
    // ±1 vote arithmetic (exact integers, order-independent), same
    // bit assembly; SignatureFunctionsSpec pins equivalence to the
    // explode + 60-sum-column aggregation this replaced (which
    // exchanged the corpus only to add up votes that all came from
    // one input row). Token-less docs emitted no vote row there and
    // are filtered here — same absent-row contract.
    par(documents)
      .withColumn("w", tokens)
      .filter(size(col("w")) > 0)
      .select(col("doc_id"),
        SignatureFunctions.simhash60(col("w"), simhashBits).as("simhash"))
  }

  /** Each doc's 4 (band index, 15-bit band value) rows — the bucketing
    * key of the SimHash candidate join, shared by the full-corpus pair
    * generator and the incremental (new-vs-existing) variant.
    */
  private def simhashBanded(documents: DataFrame): DataFrame = {
    val mask = (1 << simhashBandBits) - 1
    simhashSignatures(documents)
      .select(col("doc_id"), col("simhash"),
        expr(s"explode(sequence(0, ${simhashBands - 1}))").as("k"))
      .withColumn("band", expr(s"(simhash >> ($simhashBandBits * k)) & $mask"))
  }

  /** Q14b: SimHash near-dup candidate pairs — band-hashing (two docs
    * within Hamming distance ≤ 3 of a 60-bit signature share at least
    * one of the 4 15-bit bands), verified with an exact popcount
    * filter. Candidates come from an equi-join on (band, bandValue);
    * with 32,768 values per band, bucket groups stay small at scale.
    */
  def simhashPairs(documents: DataFrame): DataFrame =
    // filter BEFORE distinct: hamming is deterministic per pair, so
    // the result is identical, but at corpus scale most band
    // collisions are far pairs — dropping them first keeps the
    // dedup exchange to only the survivors
    simhashEdges(documents).distinct()

  /** [[simhashPairs]] before its `distinct` (one row per shared band);
    * see [[lshEdges]].
    */
  private[ops] def simhashEdges(documents: DataFrame): DataFrame = {
    val banded = simhashBanded(documents)
    val l = banded.select(col("doc_id").as("doc_a"), col("simhash").as("sig_a"),
      col("k"), col("band"))
    val r = banded.select(col("doc_id").as("doc_b"), col("simhash").as("sig_b"),
      col("k"), col("band"))
    l.join(r, Seq("k", "band"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("cast(bit_count(sig_a ^ sig_b) as int)").as("hamming"))
      .filter(col("hamming") <= simhashMaxHamming)
  }

  /** The Hamming radius of a SimHash near-dup pair — the radius the
    * 4-band geometry guarantees to find (pigeonhole: ≤ 3 differing
    * bits leave at least one band intact).
    */
  private val simhashMaxHamming = 3

  /** The CROSS-side SimHash candidates for incremental maintenance:
    * new-batch docs within [[simhashMaxHamming]] of an EXISTING doc. Signatures
    * are per-document, so SimHash pairs decompose exactly by side —
    * pairs(hist ∪ batch) = pairs(hist) ∪ pairs(batch) ∪ cross(batch,
    * hist) — which is what lets q135 merge a batch's edges into the
    * persisted label artifact bit-identically to a full recompute.
    * Same banded equi-join shape as [[simhashPairs]]; in production
    * the existing side's banded table is a maintained artifact, so a
    * batch joins O(batch) rows against it.
    */
  def simhashCrossPairs(newDocs: DataFrame, existing: DataFrame): DataFrame = {
    val l = simhashBanded(newDocs).select(col("doc_id").as("doc_a"),
      col("simhash").as("sig_a"), col("k"), col("band"))
    val r = simhashBanded(existing).select(col("doc_id").as("doc_b"),
      col("simhash").as("sig_b"), col("k"), col("band"))
    l.join(r, Seq("k", "band"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("cast(bit_count(sig_a ^ sig_b) as int)").as("hamming"))
      .filter(col("hamming") <= simhashMaxHamming) // before distinct — see simhashPairs
      .distinct()
  }

  /** Q85: the winnowed fingerprint set of each document (Schleimer/
    * Wilkerson/Aiken, SIGMOD'03 — the MOSS fingerprinter): hash every
    * k-token shingle, slide a w-wide window over the hash sequence,
    * keep each window's MINIMUM hash, dedupe. Winnowing's guarantee:
    * any token run of length ≥ k+w-1 shared by two documents spans a
    * full common window on both sides, so its window-minimum is
    * selected in BOTH — a shared passage that long can never be
    * missed, while only ~2/(w+1) of all shingle hashes are kept.
    * Selection is pure per-row expression work (no UDF, no shuffle);
    * docs too short for one full window contribute nothing. k = 5,
    * w = 4.
    */
  def winnowedFingerprints(documents: DataFrame): DataFrame = {
    // round-16: fused per-row native form (graft.functions.WinnowFps)
    // — same k-shingle md5s, same w-window minima (selected on digest
    // BYTES, whose order lowercase hex encoding preserves), same
    // array_distinct set; the composable transform/slice/array_min
    // chain allocated a slice + joined string + hex string per
    // (position × window) and is pinned equivalent in
    // SignatureFunctionsSpec. The explode of an empty fingerprint
    // array drops too-short docs exactly like the size filter did.
    par(documents)
      .withColumn("w", tokens)
      .select(col("doc_id"),
        explode(SignatureFunctions.winnowFps(col("w"), 5, 4)).as("fp"))
  }

  /** Q85b: passage-level duplication candidates — pairs of documents
    * sharing at least one winnowed fingerprint, i.e. (by the gap
    * bound, k = 5, w = 4) every pair sharing a verbatim passage of ≥ 8
    * tokens, with `n_shared` as the evidence weight. The join is a
    * bucketed fingerprint equi-join like q13's bands — never all-pairs
    * — and fingerprints present in more than 50 documents (boilerplate)
    * are dropped first, the same quadratic-blowup guard as q15's
    * hot-shingle cap.
    */
  def winnowedPassagePairs(documents: DataFrame): DataFrame =
    winnowedEdges(documents)
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"))

  /** [[winnowedPassagePairs]] before its per-pair count (one row per
    * shared fingerprint); see [[lshEdges]].
    */
  private[ops] def winnowedEdges(documents: DataFrame): DataFrame = {
    val fps = winnowedFingerprints(documents)
    val keep = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 50)
      .select("fp")
    val kept = fps.join(keep, "fp")
    kept.select(col("doc_id").as("doc_a"), col("fp"))
      .join(kept.select(col("doc_id").as("doc_b"), col("fp")), "fp")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
  }

  /** Default cap on shingle document frequency: a shingle present in
    * more than this many documents is boilerplate, not signal, and
    * would contribute O(df²) joined rows — the classic quadratic
    * blowup of inverted-index similarity joins. A no-op at test scale
    * (df ≤ corpus size ≤ 1000 there) but the guard that keeps the
    * candidate join sub-quadratic on a 100 TB corpus.
    */
  val defaultMaxShingleDf = 1000

  /** The shared capped-inverted-index pair frame of [[jaccardPairs]]
    * and [[overlapPairs]]: (doc_a, doc_b, sz_a, sz_b, common) for
    * every candidate pair meeting through a shared shingle — each
    * metric is one expression over this frame, so the DF-cap/window/
    * join machinery (the correctness- and scale-bearing part) exists
    * exactly once. Shingles are word 3-grams.
    */
  private def shingleIntersectionPairs(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = par(documents)
      .withColumn("w", tokens)
      .select(col("doc_id"), explode(shingles(col("w"), 3)).as("g"))
      .distinct()
    val capped = sh
      .withColumn("df", count(lit(1)).over(Window.partitionBy("g")))
      .filter(col("df") <= defaultMaxShingleDf)
      .withColumn("sz", count(lit(1)).over(Window.partitionBy("doc_id")))
    val l = capped.select(col("doc_id").as("doc_a"), col("g"), col("sz").as("sz_a"))
    val r = capped.select(col("doc_id").as("doc_b"), col("g"), col("sz").as("sz_b"))
    l.join(r, "g").filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
      .agg(count(lit(1)).as("common"))
  }

  /** Q15: exact n-gram Jaccard by a plain inverted-index equi-join:
    * each candidate costs one joined row, not an array_intersect.
    * (PPJoin-style prefix filtering was measured 3.6× slower at sf0.1
    * and 4.7× slower at ×10 on this corpus, and was removed.)
    *
    * Jaccard is computed over the capped shingle space (hot shingles
    * dropped on BOTH the size and the intersection side, so it remains
    * a true Jaccard of the filtered sets). Sizes are folded into the
    * shingle rows via a window — no per-document side table, no
    * broadcast, every stage is key-partitioned. Pairs at Jaccard
    * ≥ 0.3 are kept.
    */
  def jaccardPairs(documents: DataFrame): DataFrame = {
    shingleIntersectionPairs(documents)
      .withColumn("jaccard",
        expr("round(cast(common as double) / (sz_a + sz_b - common), 6)"))
      .filter(col("jaccard") >= 0.3)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Q98: overlap-coefficient (containment) near-dup pairs —
    * |Sa∩Sb| / min(|Sa|,|Sb|): the ASYMMETRIC-duplication detector.
    * A short document embedded verbatim in a 10× longer one caps
    * Jaccard at ~0.1 (q15 never fires) while its containment stays
    * ~1.0 — the quote-expansion / boilerplate-wrapper case a corpus
    * dedup pass must catch separately. Same scale machinery as q15:
    * DF-capped inverted index, window-folded set sizes, count-
    * aggregated intersection; candidate pairs only ever meet through
    * a shared shingle, never all-pairs.
    */
  def overlapPairs(documents: DataFrame): DataFrame = {
    shingleIntersectionPairs(documents)
      .withColumn("overlap",
        expr("round(cast(common as double) / least(sz_a, sz_b), 6)"))
      .filter(col("overlap") >= 0.8)
      .select("doc_a", "doc_b", "overlap")
  }

  /** SPAN-LEVEL exact dedup — the sub-document granularity between
    * doc-level exact dedup (q12) and near-dup detection: cut every
    * document into fixed 20-token non-overlapping windows and keep
    * only the globally FIRST occurrence of each distinct span content
    * (first = min (doc_id, span_idx) — the practice of deduplicating
    * repeated boilerplate/quotation spans across a crawl corpus at a
    * fixed token granularity; Lee et al., ACL'22, "Deduplicating
    * Training Data Makes Language Models Better" dedups exact
    * ~50-token substrings; the fixed non-overlapping window is the
    * aligned variant whose keep-set is closed-form).
    *
    * Scale design: the TEXT NEVER SHUFFLES. Spans are fingerprinted
    * partition-local (md5 — the exact-dedup family's content identity,
    * q12/q134 contract) and both exchanges carry only narrow rows
    * (doc_id, span_idx, span_md5, n_span_tok): first the keep
    * decision (hash partition by span_md5), then the per-document
    * roll-up (hash partition by doc_id). Output pins the surviving
    * content per doc as a digest-of-digests (md5 over the kept spans'
    * md5s in span order); a pipeline materializing the deduped text
    * joins the keep flags back to the co-partitioned original — an
    * O(corpus) narrow join, still no text exchange beyond the final
    * project.
    */
  def spanDedup(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val span = 20
    val spans = documents
      .withColumn("w", tokens)
      .withColumn("n_tok", size(col("w")))
      .withColumn("span_idx", explode(expr(
        s"case when n_tok > 0 then sequence(0, cast((n_tok - 1) / $span as int)) " +
          "else array() end")))
      .select(col("doc_id"),
        col("span_idx").cast("int").as("span_idx"),
        expr(s"md5(concat_ws(' ', slice(w, span_idx * $span + 1, $span)))")
          .as("span_md5"),
        expr(s"size(slice(w, span_idx * $span + 1, $span))")
          .cast("long").as("n_span_tok"))
    val firstWin = Window.partitionBy("span_md5")
      .orderBy(col("doc_id").asc, col("span_idx").asc)
    spans
      .withColumn("keep", row_number().over(firstWin) === 1)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("long").as("n_spans"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("n_span_tok")).otherwise(0L))
          .as("n_kept_tok"),
        expr("""md5(concat_ws(' ', transform(
                |  array_sort(collect_list(
                |    case when keep then struct(span_idx, span_md5) end)),
                |  x -> x.span_md5)))""".stripMargin.replace("\n", " "))
          .as("kept_md5"))
  }
}
