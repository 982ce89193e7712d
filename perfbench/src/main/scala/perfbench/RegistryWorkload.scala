package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.io.Tables
import graft.ops.{DedupOps, TextOps}

/** A family of registry queries run through `SparkEntry.queries` over
  * the sf0.1 fixture the benchmark ships. Each op builds the query's
  * DataFrame (the `entry` span: registry lookup plus any eager jobs the
  * query runs while planning) and consumes its whole result through the
  * canonical hash (the `hash` span), which must equal the golden digest
  * stored with the benchmark. The seed sets the query order of every
  * pass.
  */
final class RegistryWorkload(prefixes: Seq[String], golden: Map[String, String])
    extends Workload {

  private val names: Seq[String] = prefixes.map { p =>
    SparkEntry.queries.keys.find(_.startsWith(p + "_"))
      .getOrElse(throw new IllegalArgumentException(s"no registry query $p"))
  }

  override def scale: String = RegistryWorkload.Scale

  /** Set-up is the engine's own preparation of a pass: the registry
    * builds every query's DataFrame, running the eager jobs the queries
    * run while planning. The result is dropped.
    */
  def setup(ctx: Ctx): Unit = names.foreach { q =>
    SparkEntry.queries(q)(ctx.spark, ctx.fixtures)
    ctx.release()
  }

  /** Checks the fixture against its golden digest. The set-up runs
    * have already built every query three times, so passes are warm.
    */
  override def warmup(ctx: Ctx): Unit = Check.equal("fixture digest",
    CanonicalHash.of(Tables.parquet(ctx.spark, ctx.fixtures, "documents")),
    golden("fixture:documents"))

  def pass(ctx: Ctx, n: Int): Unit =
    new scala.util.Random(ctx.seed * 7919 + n).shuffle(names).foreach { q =>
      ctx.op("query", q) {
        val df = ctx.counted("entry")(SparkEntry.queries(q)(ctx.spark, ctx.fixtures))
        val digest = ctx.span("hash")(CanonicalHash.of(df))
        Check.equal(s"$q digest", digest, golden.getOrElse(q, "<no golden digest>"))
      }
      ctx.release()
    }

  override def layers(ops: Seq[OpSample], passes: Int): Map[String, Double] = {
    val entry = ops.flatMap(_.marks.get("entry"))
    Map("entry.build_jobs" -> entry.map(_.jobs).sum.toDouble / passes)
  }

  /** Per-row cost of the native signature/score expressions (the
    * PieceBench set): the corpus is replicated to ~20k rows and cached,
    * each operator's output is digested, and the digest of the input
    * alone is subtracted, leaving the operator's own cost per row.
    */
  override def probes(ctx: Ctx): Map[String, Double] = {
    val docs = Tables.parquet(ctx.spark, ctx.fixtures, "documents")
    val copies = math.max(1L, 20000L / docs.count())
    val big = docs.crossJoin(ctx.spark.range(copies).toDF("copy"))
      .withColumn("doc_id", col("doc_id") + col("copy") * 1000000L)
      .drop("copy").repartition(ctx.cores).cache()
    val rows = big.count().toDouble
    def secs(f: () => DataFrame): Double = {
      CanonicalHash.of(f())
      Stats.median((1 to 3).map { _ =>
        val t0 = System.nanoTime(); CanonicalHash.of(f()); (System.nanoTime() - t0) / 1e9
      })
    }
    val base = secs(() => big)
    val probes = Seq(
      "ops.minhash_bands_ns_row" -> (() => DedupOps.minhashBands(big)),
      "ops.simhash_ns_row" -> (() => DedupOps.simhashSignatures(big)),
      "ops.winnow_ns_row" -> (() => DedupOps.winnowedFingerprints(big)),
      "ops.quality_score_ns_row" -> (() => TextOps.qualityScore(big)))
    val out = probes.map { case (k, f) => k -> (secs(f) - base) * 1e9 / rows }.toMap
    big.unpersist(blocking = true)
    out
  }
}

object RegistryWorkload {
  /** The fixture scale of the registry workloads and of golden.json. */
  val Scale = "sf0.1"
  /** The 11 flagship corpus queries. */
  val flagship: Seq[String] = Seq("q57", "q100", "q143", "q146", "q147", "q161",
    "q163", "q169", "q177", "q185", "q186")
  /** The 13 wave-loop crawl queries. */
  val crawl: Seq[String] = Seq("q187", "q191", "q195", "q198", "q201", "q205",
    "q207", "q211", "q215", "q220", "q221", "q223", "q228")
}
