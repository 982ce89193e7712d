package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Scope, Scopes}
import graft.io.{Artifact, Layout}
import graft.ops.{DedupOps, HtmlOps, SimilarityOps, TextOps}

/** The artifact manifest and its versions: the round trip, the cost
  * (no Spark job), the failure on damage, and the publish protocol of
  * the maintained artifacts — a save killed before its manifest lands
  * leaves the previous version current, and its unfinished version is
  * skipped by readers and removed by the next save.
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
        "refresh_token" -> -42L, "label" -> "k=v") { _ => }
      val m = Artifact.read(spark, sc, "a")
      assert(m.fields === Map("n_buckets" -> "64", "refresh_token" -> "-42",
        "label" -> "k=v"))
      assert(m.int("n_buckets") === 64)
      assert(m.long("refresh_token") === -42L)
      assert(m.get("absent").isEmpty)
      val e = intercept[IllegalStateException](m.int("absent"))
      assert(e.getMessage.contains(m.file))
      // a manifest with no fields is legal (the IVF index records none)
      Artifact.save(spark, sc, "b") { _ => }
      assert(Artifact.read(spark, sc, "b").fields.isEmpty)
    }
  }

  test("reading and writing metadata starts no Spark job") {
    // the listener does count jobs
    assert(jobsDuring(spark.range(3).count()) > 0)
    withScope { sc =>
      val jobs = jobsDuring {
        Artifact.save(spark, sc, "a", "n_buckets" -> 8) { _ => }
        assert(Artifact.read(spark, sc, "a").int("n_buckets") === 8)
        Artifact.save(spark, sc, "a", "n_buckets" -> 9) { _ => }
        // resolving the version skips a killed save's unfinished one
        intercept[RuntimeException](Artifact.save(spark, sc, "a", "n_buckets" -> 10) { at =>
          assert(new java.io.File(at("rows")).mkdirs())
          throw new RuntimeException("killed")
        })
        assert(Artifact.read(spark, sc, "a").int("n_buckets") === 9)
      }
      assert(jobs === 0)
    }
  }

  test("a truncated, garbage or missing manifest fails naming the file") {
    withScope { sc =>
      Artifact.save(spark, sc, "a", "num_hashes" -> 12, "band_size" -> 2) { _ => }
      val file = Artifact.read(spark, sc, "a").file
      assert(file.endsWith(s"a/v1/${Artifact.ManifestName}"))
      val f = new java.io.File(file.stripPrefix("file:"))
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
        assert(e.getMessage.contains(file), e.getMessage)
        assert(e.getMessage.contains(new String(bad, UTF_8)), e.getMessage)
      }
      Files.delete(f.toPath)
      val e = intercept[IllegalStateException](Artifact.read(spark, sc, "a"))
      assert(e.getMessage.contains(s"missing artifact manifest"))
      assert(e.getMessage.contains(s"a/v<k>/${Artifact.ManifestName}"))
    }
  }

  /** The version directories of artifact `name` on disk. */
  private def versions(sc: Scope, name: String): Seq[String] =
    new java.io.File(sc.path(name)).list().filter(_.matches("v\\d+")).sorted.toSeq

  test("a killed save's unfinished version is skipped by readers and removed by the next save") {
    withScope { sc =>
      Artifact.save(spark, sc, "a", "p" -> 1) { at => spark.range(3).write.parquet(at("rows")) }
      intercept[RuntimeException](Artifact.save(spark, sc, "a", "p" -> 2) { at =>
        spark.range(5).write.parquet(at("rows"))
        throw new RuntimeException("killed")
      })
      // complete rows but no manifest: v2 is not a version yet
      assert(versions(sc, "a") === Seq("v1", "v2"))
      assert(Artifact.read(spark, sc, "a").int("p") === 1)
      assert(Artifact.load(spark, sc, "a").count() === 3)
      Artifact.save(spark, sc, "a", "p" -> 3) { at => spark.range(7).write.parquet(at("rows")) }
      assert(versions(sc, "a") === Seq("v3"))
      assert(Artifact.read(spark, sc, "a").int("p") === 3)
      assert(Artifact.load(spark, sc, "a").count() === 7)
    }
  }

  test("a re-save drops the catalog table registered over the version it replaces") {
    withScope { sc =>
      val log = HtmlOps.plantedFetchLog(docs)
      HtmlOps.saveFetchLog(log, sc, "fl", nBuckets = 4)
      val old = Artifact.catalogTable(Artifact.read(spark, sc, "fl").table("rows"))
      assert(spark.catalog.tableExists(old))
      HtmlOps.saveFetchLog(log, sc, "fl", nBuckets = 4)
      val now = Artifact.catalogTable(Artifact.read(spark, sc, "fl").table("rows"))
      assert(now !== old)
      assert(spark.catalog.tableExists(now))
      assert(!spark.catalog.tableExists(old))
    }
  }

  /** Save `input` under parameter `p1`; re-save it under `p2` with the
    * row `key == failAt` throwing while the rows are written; the
    * reader must then serve the previous version: the same rows and,
    * where the artifact records `field`, the value `p1`. A clean
    * re-save under `p2` records `p2`, reads the same rows as a fresh
    * artifact saved under `p2`, and leaves exactly one version.
    */
  private def killedResave(input: DataFrame, key: String, column: String,
                           failAt: Long, field: Option[String], p1: Int, p2: Int)(
      save: (DataFrame, Scope, String, Int) => Unit)(
      load: (Scope, String) => DataFrame): Unit = withScope { sc =>
    def rows(name: String): Seq[String] =
      load(sc, name).collect().map(_.toString).sorted.toSeq
    save(input, sc, "art", p1)
    val before = rows("art")
    assert(before.nonEmpty)
    val failing = input.withColumn(column,
      when(col(key) === failAt, raise_error(lit("injected fault")))
        .otherwise(col(column)))
    val killed = intercept[Exception](save(failing, sc, "art", p2))
    assert(Iterator.iterate[Throwable](killed)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("injected fault")))
    assert(rows("art") === before)
    field.foreach(f => assert(Artifact.read(spark, sc, "art").int(f) === p1))
    save(input, sc, "art", p2)
    save(input, sc, "fresh", p2)
    field.foreach(f => assert(Artifact.read(spark, sc, "art").int(f) === p2))
    assert(rows("art") === rows("fresh"))
    assert(versions(sc, "art").size === 1)
  }

  private def docs = graft.io.Tables.parquet(spark, sf, "documents")

  test("saveBands killed mid-write: no bands served under stale geometry") {
    killedResave(docs, "doc_id", "text", 250L, Some("num_hashes"), 12, 8)(
      (df, sc, n, p) => DedupOps.saveBands(df, sc, n, numHashes = p))(
      (sc, n) => DedupOps.loadBands(spark, sc, n))
  }

  test("savePostings killed mid-write: no postings served under stale buckets") {
    killedResave(docs, "doc_id", "text", 250L, Some("n_buckets"), 16, 8)(
      (df, sc, n, p) => TextOps.savePostings(df, sc, n, nBuckets = p))(
      (sc, n) => TextOps.loadPostings(spark, sc, n))
  }

  test("saveFetchLog killed mid-write: no log served under stale buckets") {
    killedResave(HtmlOps.plantedFetchLog(docs), "log_id", "url", 250L,
      Some("n_buckets"), 8, 4)(
      (df, sc, n, p) => HtmlOps.saveFetchLog(df, sc, n, nBuckets = p))(
      (sc, n) => HtmlOps.loadFetchLog(spark, sc, n))
  }

  test("saveUrlKeys killed mid-write: no keys served under stale buckets") {
    killedResave(HtmlOps.plantedDirtyUrlCorpus(docs), "doc_id", "url", 250L,
      Some("n_buckets"), 8, 4)(
      (df, sc, n, p) => HtmlOps.saveUrlKeys(df, sc, n, nBuckets = p))(
      (sc, n) => HtmlOps.loadUrlKeys(spark, sc, n))
  }

  test("saveIvfIndex killed mid-write: the previous index is served") {
    val ivf = SimilarityOps.buildIvfIndex(graft.io.Tables.parquet(spark, sf, "embeddings"))
    killedResave(ivf.assigned, "vec_id", "embedding", 7L, None, 1, 2)(
      (df, sc, n, _) => SimilarityOps.saveIvfIndex(ivf.copy(assigned = df), sc, n))(
      (sc, n) => SimilarityOps.loadIvfIndex(spark, sc, n).assigned)
  }

  test("band compaction killed before its publish: the uncompacted bands are served") {
    withScope { sc =>
      DedupOps.saveBands(docs.filter(col("doc_id") % 2 === 0), sc, "bands")
      DedupOps.appendBands(docs.filter(col("doc_id") % 2 === 1), sc, "bands")
      def rows() = DedupOps.loadBands(spark, sc, "bands")
        .collect().map(_.toString).sorted.toSeq
      def files() = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
        walk(new java.io.File(Artifact.read(spark, sc, "bands").table("rows")))
          .count(_.getName.endsWith(".parquet"))
      }
      val (before, filesBefore) = (rows(), files())
      // the q139 compaction: the current version's rows, rewritten
      // partition-preserving into the next version
      def compact(kill: Boolean): Unit = {
        val live = Artifact.read(spark, sc, "bands")
        Artifact.save(spark, sc, "bands", live.fields.toSeq: _*) { at =>
          Layout.compactPartitioned(spark, live.table("rows"), at("rows"), Seq("b"))
          if (kill) throw new RuntimeException("killed")
        }
      }
      intercept[RuntimeException](compact(kill = true))
      // the compacted rows are complete but unpublished: not served
      assert(files() === filesBefore)
      assert(rows() === before)
      assert(Artifact.read(spark, sc, "bands").int("num_hashes") === 12)
      compact(kill = false)
      assert(files() < filesBefore)
      assert(rows() === before)
      assert(versions(sc, "bands").size === 1)
    }
  }
}
