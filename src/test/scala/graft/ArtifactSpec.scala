package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Scope, Scopes}
import graft.io.Artifact
import graft.ops.{DedupOps, HtmlOps, TextOps}

/** The artifact manifest: its round trip, its cost (no Spark job), its
  * failure on damage, and the publish order of the maintained
  * artifacts — a save killed while writing rows leaves no manifest, so
  * the next reader fails by name instead of serving partial rows
  * under stale metadata.
  */
class ArtifactSpec extends SparkSpec {

  private def withScope(body: Scope => Unit): Unit = {
    val base = Files.createTempDirectory("graft-artifact-spec-")
    try body(Scopes.create(spark, base.toString))
    finally org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  /** Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { body; TestBus.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    n.get
  }

  test("a manifest write followed by a read returns the same fields") {
    withScope { sc =>
      Artifact.save(spark, sc, "a", "n_buckets" -> 64,
        "refresh_token" -> -42L, "label" -> "k=v") {}
      val m = Artifact.read(spark, sc, "a")
      assert(m.fields === Map("n_buckets" -> "64", "refresh_token" -> "-42",
        "label" -> "k=v"))
      assert(m.int("n_buckets") === 64)
      assert(m.long("refresh_token") === -42L)
      assert(m.get("absent").isEmpty)
      val e = intercept[IllegalStateException](m.int("absent"))
      assert(e.getMessage.contains(m.file))
      // a manifest with no fields is legal (BPE counts before a refresh)
      Artifact.writeAt(spark, sc.path("a/counts"))
      assert(Artifact.readAt(spark, sc.path("a/counts")).fields.isEmpty)
    }
  }

  test("reading and writing metadata starts no Spark job") {
    // the listener does count jobs
    assert(jobsDuring(spark.range(3).count()) > 0)
    withScope { sc =>
      val jobs = jobsDuring {
        Artifact.save(spark, sc, "a", "n_buckets" -> 8) {}
        assert(Artifact.read(spark, sc, "a").int("n_buckets") === 8)
        Artifact.writeAt(spark, sc.path("a/counts"), "refresh_token" -> 7L)
        assert(Artifact.readAt(spark, sc.path("a/counts"))
          .long("refresh_token") === 7L)
      }
      assert(jobs === 0)
    }
  }

  test("a truncated, garbage or missing manifest fails naming the file") {
    withScope { sc =>
      Artifact.save(spark, sc, "a", "num_hashes" -> 12, "band_size" -> 2) {}
      val f = new java.io.File(sc.path("a").stripPrefix("file:"),
        Artifact.ManifestName)
      val good = Files.readAllBytes(f.toPath)
      val damaged = Seq(good.take(good.length - 1), good.take(good.length - 3),
        good.take(good.length / 2), Array.emptyByteArray,
        "garbage".getBytes(UTF_8))
      damaged.foreach { bad =>
        Files.write(f.toPath, bad)
        // drop the checksum sidecar the direct write invalidated: the
        // simulated damage is to the content, not the transport
        Files.deleteIfExists(new java.io.File(f.getParent,
          s".${Artifact.ManifestName}.crc").toPath)
        val e = intercept[IllegalStateException](Artifact.read(spark, sc, "a"))
        assert(e.getMessage.contains(s"a/${Artifact.ManifestName}"), e.getMessage)
        assert(e.getMessage.contains(new String(bad, UTF_8)), e.getMessage)
      }
      Files.delete(f.toPath)
      val e = intercept[IllegalStateException](Artifact.read(spark, sc, "a"))
      assert(e.getMessage.contains(s"missing artifact manifest"))
      assert(e.getMessage.contains(s"a/${Artifact.ManifestName}"))
    }
  }

  /** Save `input` under parameter `p1`; re-save it under `p2` with the
    * row `key == failAt` throwing while the rows are written; the
    * reader must then fail naming the manifest. A clean re-save under
    * `p2` heals it: it records `p2` and reads the same rows as a fresh
    * artifact saved under `p2`.
    */
  private def killedResave(input: DataFrame, key: String, column: String,
                           failAt: Long, field: String, p1: Int, p2: Int)(
      save: (DataFrame, Scope, String, Int) => Unit)(
      load: (Scope, String) => DataFrame): Unit = withScope { sc =>
    def rows(name: String): Seq[String] =
      load(sc, name).collect().map(_.toString).sorted.toSeq
    save(input, sc, "art", p1)
    assert(rows("art").nonEmpty)
    val failing = input.withColumn(column,
      when(col(key) === failAt, raise_error(lit("injected fault")))
        .otherwise(col(column)))
    val killed = intercept[Exception](save(failing, sc, "art", p2))
    assert(Iterator.iterate[Throwable](killed)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("injected fault")))
    val stale = intercept[IllegalStateException](rows("art"))
    assert(stale.getMessage.contains(s"art/${Artifact.ManifestName}"),
      stale.getMessage)
    save(input, sc, "art", p2)
    save(input, sc, "fresh", p2)
    assert(Artifact.read(spark, sc, "art").int(field) === p2)
    assert(rows("art") === rows("fresh"))
  }

  private def docs = graft.io.Tables.parquet(spark, sf, "documents")

  test("saveBands killed mid-write: no bands served under stale geometry") {
    killedResave(docs, "doc_id", "text", 250L, "num_hashes", 12, 8)(
      (df, sc, n, p) => DedupOps.saveBands(df, sc, n, numHashes = p))(
      (sc, n) => DedupOps.loadBands(spark, sc, n))
  }

  test("savePostings killed mid-write: no postings served under stale buckets") {
    killedResave(docs, "doc_id", "text", 250L, "n_buckets", 16, 8)(
      (df, sc, n, p) => TextOps.savePostings(df, sc, n, nBuckets = p))(
      (sc, n) => TextOps.loadPostings(spark, sc, n))
  }

  test("saveFetchLog killed mid-write: no log served under stale buckets") {
    killedResave(HtmlOps.plantedFetchLog(docs), "log_id", "url", 250L,
      "n_buckets", 8, 4)(
      (df, sc, n, p) => HtmlOps.saveFetchLog(df, sc, n, nBuckets = p))(
      (sc, n) => HtmlOps.loadFetchLog(spark, sc, n))
  }

  test("saveUrlKeys killed mid-write: no keys served under stale buckets") {
    killedResave(HtmlOps.plantedDirtyUrlCorpus(docs), "doc_id", "url", 250L,
      "n_buckets", 8, 4)(
      (df, sc, n, p) => HtmlOps.saveUrlKeys(df, sc, n, nBuckets = p))(
      (sc, n) => HtmlOps.loadUrlKeys(spark, sc, n))
  }
}
