package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.core.Scopes
import graft.ops.SketchOps

class SketchOpsSpec extends SparkSpec {
  import spark.implicits._

  test("persist → reload → merge equals the single-pass estimate; gate is empty") {
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val history = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)

    val base = Files.createTempDirectory("graft-sketch").toString
    val scope = Scopes.create(spark, base)
    Scopes.save(
      SketchOps.perKeySketch(history, "source", "doc_id"), scope, "sk")

    // the incremental estimate (reloaded artifact + O(batch) sketch)
    // must equal the single-pass estimate over the full corpus: HLL
    // union is the estimator's own algebraic merge, not a new
    // approximation
    val incremental = SketchOps.mergedDistinctEstimate(
      Seq(Scopes.load(spark, scope, "sk"),
        SketchOps.perKeySketch(batch, "source", "doc_id")), "source")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val singlePass = SketchOps.mergedDistinctEstimate(
      Seq(SketchOps.perKeySketch(docs, "source", "doc_id")), "source")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(incremental === singlePass)

    // and the q111 gate holds it to the exact counts
    val violations = SketchOps.distinctSketchGate(
      Scopes.load(spark, scope, "sk"), batch, docs,
      "source", "doc_id")
    assert(violations.count() === 0)
    Scopes.delete(spark, scope)
  }

  test("the gate actually fires: a stale artifact that missed most of the corpus violates") {
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    // artifact built from a tenth of history, and the batch never
    // arrives: every source's estimate runs far under the exact count
    // (or is missing entirely — the left-join n_approx = 0 path)
    val staleOnly = SketchOps.perKeySketch(
      docs.filter(col("doc_id") % 10 === 0), "source", "doc_id")
    val emptyBatch = docs.filter(lit(false))
    val violations = SketchOps.distinctSketchGate(
      staleOnly, emptyBatch, docs, "source", "doc_id")
    assert(violations.count() > 0)
  }

  test("sketch rows are bounded: one row per key, not per distinct value") {
    val df = spark.range(100000L)
      .select((col("id") % 4).cast("string").as("k"), col("id").as("v"))
    val sk = SketchOps.perKeySketch(df, "k", "v")
    assert(sk.count() === 4)
    // and the estimate lands within the lgK=12 error envelope
    val est = SketchOps.mergedDistinctEstimate(Seq(sk), "k")
      .collect().map(_.getLong(1))
    est.foreach(e => assert(math.abs(e - 25000.0) / 25000.0 < 0.08, e))
  }
}
