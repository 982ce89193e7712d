package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MERGEABLE distinct-count sketch artifacts — incremental corpus
  * accounting at ingest scale.
  *
  * The exact per-source distinct count (q06) rescans the whole corpus
  * every time a batch lands; at 100 TB that is a full-corpus shuffle
  * per day for one dashboard number. The mergeable form pays the
  * corpus scan ONCE: per-key HyperLogLog sketches (datasketches HLL,
  * Spark's `hll_sketch_agg`) are persisted as a tiny scope artifact
  * (one ~KB binary row per key), and each ingest batch sketches only
  * its own rows and UNIONS sketches with the artifact — O(batch) work
  * and a constant-size merge, never a re-scan. That union is exactly
  * the estimator's algebraic merge (sketches are a commutative
  * monoid), so the incremental estimate equals the single-pass
  * estimate over the full corpus.
  *
  * No reference analogue (the reference has no aggregation surface of
  * its own); this extends q26's gated-approximation pattern with the
  * PERSISTENCE/MERGE lifecycle that makes approximation useful
  * operationally. Correctness signal: [[distinctSketchGate]] (q111)
  * bounds the merged estimate against the exact distinct over the
  * unioned inputs, computed in the same job; the oracle expects the
  * violation set EMPTY.
  */
object SketchOps {

  /** Per-key HLL sketch of `valueCol`'s distinct values. One binary
    * row per key — the shuffle carries sketch buffers (bounded by
    * 2^12 registers), not distinct values.
    */
  def perKeySketch(df: DataFrame, keyCol: String, valueCol: String): DataFrame =
    df.groupBy(keyCol)
      .agg(hll_sketch_agg(col(valueCol), 12).as("sketch"))

  /** Merge any number of per-key sketch sets (history artifact +
    * fresh batch sketches) into one estimate per key. The merge is
    * `hll_union_agg` over rows sharing a key — constant-size state,
    * no raw values.
    */
  def mergedDistinctEstimate(sketchSets: Seq[DataFrame],
                             keyCol: String): DataFrame = {
    require(sketchSets.nonEmpty, "need at least one sketch set")
    sketchSets.reduce(_.unionByName(_))
      .groupBy(keyCol)
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"))).as("n_approx"))
  }

  /** Q111 gate: the RELOADED-artifact + batch-sketch merged estimate
    * checked against the exact distinct count over the same unioned
    * inputs — emits only keys whose relative error exceeds 0.08
    * (datasketches HLL at lgK=12 has RSE ≈ 1.04/2^6 ≈ 1.6%; 0.08 is
    * five sigma). Expected output: EMPTY — which the DuckDB oracle
    * verifies, giving the whole persist → reload → merge lifecycle a
    * real correctness signal, not just the estimator.
    */
  def distinctSketchGate(historySketches: DataFrame, batch: DataFrame,
                         exactUnion: DataFrame,
                         keyCol: String, valueCol: String): DataFrame = {
    val batchSketches = perKeySketch(batch, keyCol, valueCol)
    val approx =
      mergedDistinctEstimate(Seq(historySketches, batchSketches), keyCol)
    val exact = exactUnion.groupBy(keyCol)
      .agg(countDistinct(col(valueCol)).as("n_exact"))
    // LEFT join: a key with no sketch anywhere (artifact lost it, and
    // the batch didn't see it) is the worst violation, not a silent
    // drop — it surfaces as n_approx = 0, rel_err = 1
    exact.join(approx, Seq(keyCol), "left")
      .withColumn("n_approx", coalesce(col("n_approx"), lit(0L)))
      .withColumn("rel_err",
        abs(col("n_approx") - col("n_exact")).cast("double") / col("n_exact"))
      .filter(col("rel_err") > 0.08)
      .select(keyCol, "n_exact", "n_approx", "rel_err")
  }
}
