package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-mitigation primitives for hot keys at scale.
  *
  * AQE's skew-join splitting handles most shuffle skew at runtime
  * (`spark.sql.adaptive.skewJoin.enabled`, on by default in
  * GraftSession); these helpers cover the two cases AQE does not:
  * aggregation skew (one giant group saturating a single reducer) and
  * joins where one side must be replicated deterministically.
  */
object Skew {

  /** Two-phase salted aggregation: groupBy(keys + salt) partial sums
    * → groupBy(keys) final combine. A single hot key spreads over
    * [[saltBuckets]] reducers in phase 1; phase 2 merges that many tiny
    * rows per key. Correct for any commutative+associative aggregate —
    * callers pass the partial and final combine expressions.
    */
  def saltedSum(df: DataFrame, keys: Seq[String], valueCol: String): DataFrame = {
    // salt must be row-unique-ish, NOT value-derived: a hot key whose
    // rows share one value would otherwise land in a single bucket
    val salted = df.withColumn("_salt",
      pmod(crc32(monotonically_increasing_id().cast("string")), lit(saltBuckets)))
    salted
      .groupBy((keys.map(col) :+ col("_salt")): _*)
      .agg(sum(col(valueCol)).as("_partial"))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("_partial")).as(s"sum_$valueCol"))
  }

  /** Salted equi-join for a skewed left side: left rows get a random-
    * but-deterministic salt in [0, saltBuckets); the (small) right side
    * is exploded ×saltBuckets so every salted left key finds its match.
    * The hot key's rows spread across [[saltBuckets]] tasks.
    */
  def saltedJoin(skewed: DataFrame, small: DataFrame, key: String): DataFrame = {
    val l = skewed.withColumn("_salt",
      pmod(crc32(monotonically_increasing_id().cast("string")), lit(saltBuckets)))
    val r = small.withColumn("_salt", explode(expr(s"sequence(0, ${saltBuckets - 1})")))
    l.join(r, Seq(key, "_salt")).drop("_salt")
  }

  /** The salt fan-out of [[saltedSum]] and [[saltedJoin]]. */
  private val saltBuckets = 16

  /** Q122: BLOOM-PRUNED equi-join — explicit semi-join reduction for a
    * fact ⋈ selective-dim join where the dim side is too big (or the
    * plan too opaque) for a broadcast join, so the fact side would
    * otherwise shuffle in full. The dim KEY SET is folded into a
    * bounded Bloom sketch (the q61 sizing: ~1.2 GB per 10^9 keys at 1%
    * fpp), broadcast, and probed per fact row BEFORE the exchange —
    * fact rows with no possible match never shuffle. False positives
    * survive the probe but die in the real join, so results are
    * bit-identical to the plain join (the q122 oracle IS the plain
    * SQL, the q72/q73 invariance pattern).
    *
    * This is the manual form of Spark's runtime bloom-filter join
    * pruning, exposed as an operator so a pipeline can apply it where
    * the optimizer's heuristics decline (cross-format inputs, reused
    * sketches across queries). The probe UDF shares q61's
    * justification: no public expression API over
    * `util.sketch.BloomFilter`, and it runs on the narrow key column.
    */
  def bloomPrunedJoin(fact: DataFrame, dim: DataFrame, factKey: String,
                      dimKey: String): DataFrame = {
    val bloom = dim.stat.bloomFilter(dimKey, 1000000L, 0.01)
    val bc = fact.sparkSession.sparkContext.broadcast(bloom)
    // null keys never match an equi-join: "definitely absent" is exact
    val might = udf((k: java.lang.Long) =>
      k != null && bc.value.mightContainLong(k))
    fact.filter(might(col(factKey).cast("long")))
      .join(dim, col(factKey) === col(dimKey))
  }
}
