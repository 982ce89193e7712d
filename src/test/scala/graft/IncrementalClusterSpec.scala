package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import graft.core.{Scope, Scopes}
import graft.io.Artifact
import graft.ops.ClusterOps

/** The q135 label-artifact lifecycle: merge must be bit-identical to a
  * full recompute, rewrite ONLY the buckets of affected components,
  * and leave no stale files when a component migrates out of its
  * bucket.
  */
class IncrementalClusterSpec extends SparkSpec {
  import spark.implicits._

  private val nB = 8

  private def freshScope(): Scope = {
    val base = Files.createTempDirectory("graft-incr-cluster-")
    base.toFile.deleteOnExit()
    Scopes.create(spark, base.toString)
  }

  private def labelsOf(verts: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] =
    ClusterOps.connectedComponents(verts.toDF("doc_id"),
        edges.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def buildArtifact(scope: Scope, verts: Seq[Long],
                            edges: Seq[(Long, Long)]): Unit =
    ClusterOps.saveClusterLabels(
      ClusterOps.connectedComponents(verts.toDF("doc_id"),
        edges.toDF("doc_a", "doc_b")),
      scope, "labels", nBuckets = nB)

  private def merge(scope: Scope, edges: Seq[(Long, Long)]): Unit =
    ClusterOps.mergeClusterEdges(spark, scope, "labels",
      edges.toDF("doc_a", "doc_b"))

  private def probe(scope: Scope, verts: Seq[Long]): Map[Long, Long] =
    ClusterOps.loadClusterLabels(spark, scope, "labels", verts.toDF("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** The artifact's bucket for a canonical id — same formula as the
    * storage layout, evaluated through Spark so the test can never
    * drift from the implementation's hash.
    */
  private def bucket(id: Long): Int =
    Seq(id).toDF("c")
      .select(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.xxhash64(
          org.apache.spark.sql.functions.col("c")),
        org.apache.spark.sql.functions.lit(nB.toLong)).cast("int"))
      .head().getInt(0)

  private def bucketFiles(scope: Scope, b: Int): Map[String, (Long, Long)] = {
    val rows = Artifact.read(spark, scope, "labels").table("rows")
    val p = new Path(s"$rows/cbucket=$b")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Map.empty
    else fs.listStatus(p).filter(_.isFile)
      .map(s => s.getPath.getName -> (s.getLen, s.getModificationTime)).toMap
  }

  test("merge equals full recompute: component merges, chains, new clusters") {
    val histVerts = 1L to 20L
    // components {2,3,4}, {7,8}, {10,11,12}; rest singletons
    val histEdges = Seq(2L -> 3L, 3L -> 4L, 7L -> 8L, 10L -> 11L, 11L -> 12L)
    // batch: extends comp 2 via 4, chains TWO existing components
    // (7,8)+(10,11,12) through new node 25, and a brand-new cluster
    val batchVerts = Seq(21L, 22L, 25L, 30L, 31L)
    val batchEdges = Seq(4L -> 21L, 21L -> 22L, 8L -> 25L, 25L -> 10L, 30L -> 31L)
    val scope = freshScope()
    buildArtifact(scope, histVerts, histEdges)
    merge(scope, batchEdges)
    val allVerts = histVerts ++ batchVerts
    assert(probe(scope, allVerts) === labelsOf(allVerts, histEdges ++ batchEdges))
    Scopes.delete(spark, scope)
  }

  test("merge is idempotent and sequential merges compose") {
    val verts = 1L to 12L
    val histEdges = Seq(1L -> 2L, 5L -> 6L)
    val b1 = Seq(2L -> 3L)
    val b2 = Seq(3L -> 5L, 9L -> 10L)
    val scope = freshScope()
    buildArtifact(scope, verts, histEdges)
    merge(scope, b1)
    merge(scope, b1) // replay: must be a no-op
    merge(scope, b2)
    assert(probe(scope, verts) === labelsOf(verts, histEdges ++ b1 ++ b2))
    Scopes.delete(spark, scope)
  }

  test("untouched components' bucket files are not rewritten") {
    // find two canonical ids landing in DIFFERENT buckets so one
    // component's bucket is provably untouched by the other's merge
    val c1 = 2L
    val c2 = (3L to 60L).find(c => bucket(c) != bucket(c1)).get
    val verts = Seq(c1, c1 + 100, c2, c2 + 100, 200L)
    val histEdges = Seq(c1 -> (c1 + 100), c2 -> (c2 + 100))
    val scope = freshScope()
    buildArtifact(scope, verts, histEdges)
    val before = bucketFiles(scope, bucket(c2))
    assert(before.nonEmpty) // the untouched component is really there
    merge(scope, Seq(c1 -> 200L)) // touches only c1's component
    assert(bucketFiles(scope, bucket(c2)) === before,
      "merge rewrote files of a bucket whose components it never touched")
    assert(probe(scope, verts ++ Seq(200L)) ===
      labelsOf(verts ++ Seq(200L), histEdges ++ Seq(c1 -> 200L)))
    Scopes.delete(spark, scope)
  }

  test("bucket emptied by canonical migration is cleaned up (no stale labels)") {
    // one component {a, a+100} whose canonical a lives ALONE in its
    // bucket; merging edge (2, a) moves the whole component to
    // canonical 2 in a different bucket — a's old bucket must vanish
    val a = (3L to 60L).find(c => bucket(c) != bucket(2L)).get
    val verts = Seq(2L, a, a + 100)
    val scope = freshScope()
    buildArtifact(scope, verts, Seq(a -> (a + 100)))
    assert(bucketFiles(scope, bucket(a)).nonEmpty)
    merge(scope, Seq(2L -> a))
    assert(bucketFiles(scope, bucket(a)).isEmpty,
      s"stale files left in emptied bucket cbucket=${bucket(a)}")
    assert(probe(scope, verts) ===
      Map(2L -> 2L, a -> 2L, (a + 100) -> 2L))
    Scopes.delete(spark, scope)
  }

  test("merge into an all-singleton (empty-rows) artifact") {
    val verts = 1L to 6L
    val scope = freshScope()
    buildArtifact(scope, verts, Seq.empty) // zero non-identity rows
    merge(scope, Seq(3L -> 4L))
    assert(probe(scope, verts) === labelsOf(verts, Seq(3L -> 4L)))
    Scopes.delete(spark, scope)
  }

  test("random graphs: staged merges equal full recompute for any edge split") {
    // deterministic pseudo-random graphs (fixed seed — reproducible
    // failures): arbitrary edges split into build + two merge waves
    // must land on the full-recompute fixed point every time
    val rnd = new scala.util.Random(20260813L)
    (1 to 5).foreach { trial =>
      val nNodes = 12 + rnd.nextInt(20)
      val verts = (1L to nNodes.toLong).toSeq
      val nEdges = 5 + rnd.nextInt(25)
      val edges = Seq.fill(nEdges)(
        (1L + rnd.nextInt(nNodes), 1L + rnd.nextInt(nNodes)))
        .filter(e => e._1 != e._2)
      val (build, rest) = edges.splitAt(edges.length / 3)
      val (wave1, wave2) = rest.splitAt(rest.length / 2)
      val scope = freshScope()
      buildArtifact(scope, verts, build)
      if (wave1.nonEmpty) merge(scope, wave1)
      if (wave2.nonEmpty) merge(scope, wave2)
      assert(probe(scope, verts) === labelsOf(verts, edges),
        s"trial $trial diverged: build=$build wave1=$wave1 wave2=$wave2")
      Scopes.delete(spark, scope)
    }
  }

  test("endpoint that IS a stored canonical pulls its whole component") {
    // edge hits the representative (which has no stored row of its
    // own): members must still relabel
    val verts = Seq(1L, 5L, 6L, 7L)
    val scope = freshScope()
    buildArtifact(scope, verts, Seq(5L -> 6L, 6L -> 7L)) // canonical 5
    merge(scope, Seq(1L -> 5L))
    assert(probe(scope, verts) === Map(1L -> 1L, 5L -> 1L, 6L -> 1L, 7L -> 1L))
    Scopes.delete(spark, scope)
  }
}
