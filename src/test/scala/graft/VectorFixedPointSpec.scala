package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.{l2qArgmin, vecL2Q, vecQuantizeFx}
import graft.ops.SimilarityOps

/** Round-16 optimization gate: the native fixed-point vector
  * expressions (vec_quantize_fx / vec_l2q / l2q_argmin) must be
  * BIT-IDENTICAL to the composable Catalyst chains they replaced —
  * reconstructed verbatim here and compared row-for-row on the fixture
  * embeddings plus adversarial values (negative halves, exact .5
  * boundaries, zero vectors).
  */
class VectorFixedPointSpec extends SparkSpec {
  import spark.implicits._

  private def emb: DataFrame =
    graft.io.Tables.parquet(spark, sf, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding"))
      .unionByName(Seq(
        (900001L, 0, Seq.fill(64)(0.0f)),
        (900002L, 1, (0 until 64).map(i => (i - 32) * 0.5f / (1 << 20))),
        (900003L, 2, (0 until 64).map(i => -1.5f + i * 0.046875f))
      ).toDF("vec_id", "label", "embedding"))

  test("vec_quantize_fx equals transform(round(x*s) cast long)") {
    val s = 1L << 20
    val a = emb.select(col("vec_id"),
      vecQuantizeFx(col("embedding"), 20).as("q"))
    val b = emb.select(col("vec_id"),
      expr(s"transform(embedding, x -> cast(round(cast(x as double) * ${s}L) as long))").as("q"))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("l2q_argmin equals the array_sort(transform(zip_with)) argmin chain") {
    val s = 1L << 20
    val seedRows: Seq[(Int, Seq[Long])] = Seq(
      1 -> Seq.fill(64)(0L),
      2 -> (0 until 64).map(i => i.toLong * 100),
      3 -> (0 until 64).map(i => -i.toLong * 100),
      4 -> Seq.fill(64)(0L)) // duplicate of seed 1: exercises the cid tie
    val base = emb.withColumn("__seeds", typedlit(seedRows))
    val fused = base
      .withColumn("m", l2qArgmin(col("embedding"), col("__seeds"), 20))
      .select(col("vec_id"), col("m.cid"), col("m.d2"))
    val legacy = base
      .withColumn("vq", expr(
        s"transform(embedding, x -> cast(round(cast(x as double) * ${s}L) as long))"))
      .withColumn("m", element_at(array_sort(expr(
        """transform(__seeds, s -> struct(
          |  aggregate(zip_with(vq, s._2, (a, b) -> (a - b) * (a - b)),
          |            0L, (acc, x) -> acc + x) AS d2,
          |  s._1 AS cid))""".stripMargin)), 1))
      .select(col("vec_id"), col("m.cid"), col("m.d2"))
    assert(fused.exceptAll(legacy).isEmpty && legacy.exceptAll(fused).isEmpty)
  }

  test("vec_l2q equals the zip_with/aggregate distance chain") {
    val s = 1L << 20
    val sq = (0 until 64).map(i => (i * 37 % 200 - 100).toLong)
    val base = emb.withColumn("__sq", typedlit(sq))
    val fused = base.select(col("vec_id"),
      vecL2Q(col("embedding"), col("__sq"), 20).as("d2"))
    val legacy = base
      .withColumn("vq", expr(
        s"transform(embedding, x -> cast(round(cast(x as double) * ${s}L) as long))"))
      .select(col("vec_id"), expr(
        """aggregate(zip_with(vq, __sq, (a, b) -> (a - b) * (a - b)),
          |          0L, (acc, x) -> acc + x)""".stripMargin).as("d2"))
    assert(fused.exceptAll(legacy).isEmpty && legacy.exceptAll(fused).isEmpty)
  }

  test(".5-boundary elements match the legacy round-cast chain") {
    // round-17: quantize dropped the per-element BigDecimal for a
    // primitive HALF_UP — exact .5 boundaries on both signs are where
    // the two could diverge
    val s = 1L << 20
    val boundary = Seq(
      900102L -> Seq(0.5f / (1 << 20), -0.5f / (1 << 20),
        2.5f / (1 << 20), -2.5f / (1 << 20)),
      900103L -> Seq(java.lang.Float.MIN_VALUE, -0.0f, 1.0f, -1.0f)
    ).toDF("vec_id", "embedding")
    val a = boundary.select(col("vec_id"),
      vecQuantizeFx(col("embedding"), 20).as("q"))
    val b = boundary.select(col("vec_id"),
      expr(s"transform(embedding, x -> cast(round(cast(x as double) * ${s}L) as long))").as("q"))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("non-finite and overflowing elements take the total saturating extension") {
    // the round-16 BigDecimal form threw NumberFormatException on NaN
    // (ADVICE) and the composable ANSI chain throws CAST_OVERFLOW; the
    // round-17 primitive is total: NaN → 0, ±Inf and beyond-long
    // magnitudes saturate (JVM double→long cast values)
    val row = Seq(900101L -> Seq(Float.NaN, Float.PositiveInfinity,
      Float.NegativeInfinity, Float.MaxValue, Float.MinValue))
      .toDF("vec_id", "embedding")
    val got = row.select(vecQuantizeFx(col("embedding"), 20).as("q"))
      .head.getSeq[Long](0)
    assert(got == Seq(0L, Long.MaxValue, Long.MinValue,
      Long.MaxValue, Long.MinValue))
  }

  test("a null embedding element propagates null through all three expressions") {
    // round-16 read getFloat blind (ADVICE: NPE or silent 0); the
    // legacy transform kept the null in place and nulled any distance
    // built from it
    val df = Seq(1L).toDF("id").select(col("id"), expr(
      "array(cast(1.0 as float), cast(null as float), cast(2.0 as float))")
      .as("embedding"))
    val q = df.select(vecQuantizeFx(col("embedding"), 20).as("q"))
    val legacy = df.select(expr(
      "transform(embedding, x -> cast(round(cast(x as double) * 1048576L) as long))").as("q"))
    assert(q.exceptAll(legacy).isEmpty && legacy.exceptAll(q).isEmpty)
    val d = df.select(vecL2Q(col("embedding"), array(lit(0L), lit(0L), lit(0L)), 20)).head
    assert(d.isNullAt(0))
    val m = df.select(l2qArgmin(col("embedding"),
      array(struct(lit(1), array(lit(0L), lit(0L), lit(0L)))), 20)).head
    assert(m.isNullAt(0))
  }

  test("l2q_argmin over empty seeds is null, like the legacy try_element_at") {
    // round-16 emitted a bogus (Long.MaxValue, Int.MaxValue) struct
    // here; the legacy pick over an empty candidate array is null
    // (try_element_at — the plain ANSI element_at throws instead)
    val df = emb.limit(4)
    val seedsSql = "cast(array() as array<struct<cid: int, sq: array<bigint>>>)"
    val fused = df.select(l2qArgmin(col("embedding"), expr(seedsSql), 20).as("m"))
    assert(fused.collect().forall(_.isNullAt(0)))
    val legacy = df.select(expr(
      s"""try_element_at(array_sort(transform($seedsSql, s -> struct(
         |  aggregate(zip_with(
         |      transform(embedding, x -> cast(round(cast(x as double) * 1048576L) as long)),
         |      s.sq, (a, b) -> (a - b) * (a - b)),
         |    0L, (acc, x) -> acc + x) AS d2,
         |  s.cid AS cid))), 1)""".stripMargin).as("m"))
    assert(legacy.collect().forall(_.isNullAt(0)))
  }

  test("kmeansStep trajectory is unchanged by the fused assignment") {
    // end-to-end: one Lloyd step over the fixture must produce the
    // same centroids as composing the legacy-shaped stages (the oracle
    // replays this trajectory — any drift is a correctness break)
    val e = graft.io.Tables.parquet(spark, sf, "embeddings")
    val step = SimilarityOps.kmeansStep(e)
    val viaAssign = SimilarityOps.labelCentroids(
      SimilarityOps.kmeansAssign(e, SimilarityOps.kmeansSeeds(e, 8))
        .select(col("cluster"), col("embedding")),
      labelCol = "cluster")
    assert(step.exceptAll(viaAssign).isEmpty && viaAssign.exceptAll(step).isEmpty)
  }
}
