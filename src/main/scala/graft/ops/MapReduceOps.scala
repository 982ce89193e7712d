package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

/** The generic typed map / group-by-key / reduce surface — the direct
  * Spark analogue of the reference's Mapper/Reducer extension points
  * (reference: test/src/.../TestMapper.java:23-45,
  * test/src/.../TestReducer.java:23-39, wired in Runner.java:42-46).
  *
  * Where the reference ships every `(k,v)` pair through an uncombined
  * shuffle (no `setCombinerClass`, Runner.java:42-46), the declarative
  * forms here get partial (map-side) aggregation from Spark's hash
  * aggregate for free — the key scale win at 100 TB.
  */
object MapReduceOps {

  /** R7 generic map: each input record → 0..n outputs (flatMap). */
  def mapRecords[T, U: Encoder](ds: Dataset[T])(f: T => IterableOnce[U]): Dataset[U] =
    ds.flatMap(f)

  /** R8+R9 general grouped reduce: one key group → 0..n output rows,
    * exactly `Reducer.reduce`'s contract (TestReducer.java:23-24).
    * Prefer plain `groupBy().agg()` when the reduction is algebraic —
    * that gets map-side partial aggregation; this one shuffles full
    * groups (as Hadoop MR always does).
    */
  def groupReduce[T, K: Encoder, U: Encoder](ds: Dataset[T])(key: T => K)(
      reduce: (K, Iterator[T]) => IterableOnce[U]): Dataset[U] =
    ds.groupByKey(key).flatMapGroups(reduce)

  /** Unpivot `cols` into `(id, value)` pairs — the reference test
    * mapper's computation (TestMapper.java:36-44 emits
    * `(columnIndex, value)` per column). `stack` stays inside
    * whole-stage codegen; 1 row in → n rows out with no shuffle.
    */
  def unpivotToIdValue(df: DataFrame, cols: Seq[String]): DataFrame = {
    val args = cols.zipWithIndex
      .map { case (c, i) => s"$i, cast($c as bigint)" }.mkString(", ")
    df.selectExpr(s"stack(${cols.size}, $args) as (id, value)")
  }

  /** The reference reducer's exact-integer-mean with tripwire: any
    * non-exact mean explodes the value instead of hiding behind integer
    * division (reference: TestReducer.java:34-37, sum carried in long
    * to avoid overflow :28). All-long arithmetic; `div` is integer
    * division.
    */
  def exactIntMeanTripwire(valueCol: String): Column =
    expr(s"(sum($valueCol) div count($valueCol)) - (sum($valueCol) % count($valueCol)) * 100")

  /** Q1 / t1 smoke: unpivot + grouped exact integer mean — the
    * reference's own end-to-end computation
    * (reference: test/src/.../EndToEndTest.java:37-54). Declarative
    * form: partial+final hash agg, one shuffle of pre-combined
    * partials (vs the reference's 7 pairs/row over the wire).
    */
  def unpivotGroupedMean(df: DataFrame, cols: Seq[String]): DataFrame =
    unpivotToIdValue(df, cols)
      .groupBy("id")
      .agg(exactIntMeanTripwire("value").as("mean"))

  /** Same computation on the fully-typed imperative surface
    * ([[mapRecords]] + [[groupReduce]]) — the 1:1 analogue of the
    * reference's Mapper/Reducer pair, including its combinerless
    * full-group shuffle. Kept as the R7/R8/R9 conformance path; the
    * declarative [[unpivotGroupedMean]] is the production form.
    */
  def unpivotGroupedMeanTyped(spark: SparkSession, df: DataFrame,
                              cols: Seq[String]): DataFrame = {
    import spark.implicits._
    val n = cols.size
    val projected = df.selectExpr(cols.map(c => s"cast($c as bigint)"): _*)
    val pairs = mapRecords(projected)(r => (0 until n).map(i => (i, r.getLong(i))))
    groupReduce(pairs)(_._1) { (id, it) =>
      var sum = 0L // long accumulator, like TestReducer.java:28
      var count = 0L
      it.foreach { kv => sum += kv._2; count += 1 }
      Iterator.single((id, sum / count - (sum % count) * 100))
    }.toDF("id", "mean")
  }
}
