package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Scope, Scopes}
import graft.io.Tables
import graft.ops.{DedupOps, HtmlOps, SimilarityOps, TextOps}

/** Writes beside reads. Each cycle makes a fresh scope, builds four
  * artifacts from a seeded base split of the fixture, appends the
  * remaining batches one at a time, compacts the fetch log, reloads
  * every artifact and digests it whole, and deletes the scope.
  *
  * Check: a reloaded artifact must equal the one built from scratch
  * over all rows, built once before the warm-up cycle. The IVF quantizer is
  * frozen at its base fit by design, so its from-scratch twin is the
  * base fit with all remaining rows appended in one batch.
  */
final class ArtifactWorkload(batches: Int) extends Workload {
  import ArtifactWorkload.Inputs

  /** The fetch log's bucket count: 2 instead of the default 64, which
    * at the fixture's 600 log rows would write mostly empty files.
    */
  private val FetchLogBuckets = 2
  private var staged: Seq[DataFrame] = Nil
  private var parts: Seq[Inputs] = Nil
  private var reference: Map[String, String] = Map.empty

  /** Stages the seeded split in memory: every document, vector and
    * fetch-log row is tagged with batch `pmod(xxhash64(key, seed),
    * batches)` and cached; batch 0 is the base.
    */
  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    staged.foreach(_.unpersist(blocking = true))
    val docs = Tables.parquet(spark, ctx.fixtures, "documents")
    val log = HtmlOps.plantedFetchLog(docs).select("log_id", "url", "fetched_at_s")
    staged = Seq(docs -> "doc_id", Tables.parquet(spark, ctx.fixtures, "embeddings") -> "vec_id",
        log -> "log_id").map { case (df, key) =>
      val t = df.withColumn("batch", pmod(xxhash64(col(key), lit(ctx.seed)), lit(batches))).cache()
      t.count()
      t
    }
    val Seq(d, e, l) = staged
    parts = (0 until batches).map { b =>
      def of(t: DataFrame) = t.filter(col("batch") === b).drop("batch")
      Inputs(of(d), of(e), of(l).select("url", "fetched_at_s"))
    }
  }

  private def all(f: Inputs => DataFrame, from: Int = 0): DataFrame =
    parts.drop(from).map(f).reduce(_ unionByName _)

  /** Reloads every artifact and digests it whole (IVF: both tables). */
  private def loads(spark: org.apache.spark.sql.SparkSession, sc: Scope): Seq[(String, () => String)] = Seq(
    "postings" -> (() => CanonicalHash.of(TextOps.loadPostings(spark, sc, "postings"))),
    "ivf" -> (() => {
      val ivf = SimilarityOps.loadIvfIndex(spark, sc, "ivf")
      CanonicalHash.of(ivf.assigned) + "/" + CanonicalHash.of(ivf.centroids)
    }),
    "fetchlog" -> (() => CanonicalHash.of(HtmlOps.loadFetchLog(spark, sc, "flog"))),
    "bands" -> (() => CanonicalHash.of(DedupOps.loadBands(spark, sc, "bands"))))

  /** From-scratch twins of the four artifacts, digested. */
  private def buildReference(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val sc = Scopes.create(spark, s"${ctx.work}/reference")
    TextOps.savePostings(all(_.docs), sc, "postings")
    SimilarityOps.saveIvfIndex(SimilarityOps.buildIvfIndex(parts.head.emb), sc, "ivf")
    SimilarityOps.appendToIvfIndex(all(_.emb, from = 1), sc, "ivf")
    HtmlOps.saveFetchLog(all(_.log), sc, "flog", FetchLogBuckets)
    DedupOps.saveBands(all(_.docs), sc, "bands")
    reference = loads(spark, sc).map { case (k, f) => k -> f() }.toMap
    Scopes.delete(spark, sc)
  }

  /** A cycle is long enough that one measured cycle per run suffices. */
  override def minPasses: Int = 1

  /** Warm-up: the from-scratch build, then one cycle; the first cycle
    * of a process still runs about a fifth slower than the next.
    */
  override def warmup(ctx: Ctx): Unit = { buildReference(ctx); pass(ctx, 0) }

  def pass(ctx: Ctx, n: Int): Unit = {
    val spark = ctx.spark
    var sc: Scope = null
    def write(kind: String, label: String)(body: => Unit): Unit =
      ctx.op(kind, label)(ctx.span("artifact")(body))
    ctx.op("create", "scope") { sc = ctx.span("scopes")(Scopes.create(spark, s"${ctx.work}/scopes")) }
    val base = parts.head
    write("build", "postings")(TextOps.savePostings(base.docs, sc, "postings"))
    write("build", "ivf")(SimilarityOps.saveIvfIndex(SimilarityOps.buildIvfIndex(base.emb), sc, "ivf"))
    write("build", "fetchlog")(HtmlOps.saveFetchLog(base.log, sc, "flog", FetchLogBuckets))
    write("build", "bands")(DedupOps.saveBands(base.docs, sc, "bands"))
    parts.tail.zipWithIndex.foreach { case (b, i) =>
      write("append", s"postings#${i + 1}")(TextOps.appendPostings(b.docs, sc, "postings"))
      write("append", s"ivf#${i + 1}")(SimilarityOps.appendToIvfIndex(b.emb, sc, "ivf"))
      write("append", s"fetchlog#${i + 1}")(HtmlOps.appendFetchLog(b.log, sc, "flog"))
      write("append", s"bands#${i + 1}")(DedupOps.appendBands(b.docs, sc, "bands"))
    }
    write("compact", "fetchlog")(HtmlOps.compactFetchLog(spark, sc, "flog"))
    var rows = 0L
    val digests = loads(spark, sc).map { case (k, f) =>
      var d = ""
      ctx.op("load", k) {
        d = ctx.span("artifact")(f())
        rows += d.split("/").map(CanonicalHash.rows).sum
      }
      (ctx.samples.size - 1, k, d)
    }
    ctx.op("delete", "scope") {
      val inv = Scopes.inventory(spark, sc)
      ctx.note("files", inv.map(_.n_files).sum.toDouble)
      ctx.note("bytes", inv.map(_.total_bytes).sum.toDouble)
      ctx.note("rows", rows.toDouble)
      ctx.span("scopes")(Scopes.delete(spark, sc))
    }
    digests.foreach { case (id, k, d) =>
      if (d != reference(k)) ctx.failOp(id, s"$k rebuilt from batches: $d, from scratch: ${reference(k)}")
    }
  }

  private val writeKinds = Set("build", "append", "compact")

  override def extraEndToEnd(ops: Seq[OpSample]): Seq[(String, Double, String)] = Seq(
    ("write_p50_s", Stats.median(ops.filter(o => writeKinds(o.kind)).map(_.seconds)), "s"),
    ("read_p50_s", Stats.median(ops.filter(_.kind == "load").map(_.seconds)), "s"))

  override def layers(ops: Seq[OpSample], passes: Int): Map[String, Double] = {
    def ms(k: String) = ops.filter(_.kind == k).map(_.seconds * 1e3).sum / passes
    val del = ops.filter(_.kind == "delete")
    Map(
      "artifact.build_ms" -> ms("build"),
      "artifact.append_ms" -> ms("append"),
      "artifact.compact_ms" -> ms("compact"),
      "artifact.load_ms" -> ms("load"),
      "artifact.files_written" -> del.map(_.value("files")).sum / passes,
      "artifact.bytes_per_row" -> del.map(_.value("bytes")).sum / del.map(_.value("rows")).sum,
      "scopes.bytes_written" -> del.map(_.value("bytes")).sum / passes)
  }
}

object ArtifactWorkload {
  /** One batch of the split. */
  final case class Inputs(docs: DataFrame, emb: DataFrame, log: DataFrame)
}
