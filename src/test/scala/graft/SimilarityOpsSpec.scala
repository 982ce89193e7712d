package graft

import graft.io.Artifact
import graft.ops.SimilarityOps

class SimilarityOpsSpec extends SparkSpec {
  import spark.implicits._

  private def vecs(rows: (Long, Seq[Float])*) =
    rows.toDF("vec_id", "embedding")

  test("bruteForceKnn ranks an identical vector first with sim 1.0") {
    val v = Seq(1.0f, 2.0f, 3.0f, 4.0f)
    val d = vecs(0L -> v, 10L -> v, 11L -> Seq(4.0f, 3.0f, 2.0f, 1.0f),
      12L -> Seq(-1.0f, -2.0f, -3.0f, -4.0f))
    val out = SimilarityOps.bruteForceKnn(d, nQueries = 1, k = 3).collect()
      .sortBy(_.getAs[Int]("rnk"))
    assert(out.head.getAs[Long]("vec_id") === 10L)
    assert(out.head.getAs[Double]("sim") === 1.0)
    assert(out.last.getAs[Long]("vec_id") === 12L) // anti-parallel last
    assert(out.last.getAs[Double]("sim") === -1.0)
  }

  test("vec_dot types its inputs at analysis time: double arrays coerce, scalars are rejected") {
    import org.apache.spark.sql.functions.{array, lit}
    import graft.functions.VectorFunctions.vecDot
    // ImplicitCastInputTypes: array<double> literals coerce to
    // array<float> during analysis instead of mis-reading the array
    // buffer at execution time
    val r = Seq(1).toDF("x")
      .select(vecDot(array(lit(1.0), lit(2.0)), array(lit(3.0), lit(4.0))).as("d"))
      .collect().head
    assert(r.getDouble(0) === 11.0)
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(1).toDF("x").select(vecDot(lit(1), lit(2))).collect()
    }
    assert(err.getMessage.toLowerCase.contains("vec_dot"), err.getMessage)
  }

  test("embeddingNearDupPairs keeps exactly the pairs at/above the cosine threshold") {
    val base = (0 until 8).map(_.toFloat + 1f)
    val near = base.updated(0, 1.2f) // cosine ≈ 0.999
    val far = (0 until 8).map(i => if (i % 2 == 0) 1f else -1f)
    val d = vecs(0L -> base, 1L -> near, 2L -> far, 3L -> base)
    val out = SimilarityOps.embeddingNearDupPairs(d, threshold = 0.9).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(out === Set((0L, 1L), (0L, 3L), (1L, 3L))) // far matches nothing
  }

  test("semanticDedupApply keeps one canonical per near-dup component with drop counts") {
    val base = (0 until 8).map(_.toFloat + 1f)
    val near = base.updated(0, 1.2f)
    val far = (0 until 8).map(i => if (i % 2 == 0) 1f else -1f)
    // component {0,1,3} (via 0-1, 0-3 edges), singletons 2 and 4
    val d = vecs(0L -> base, 1L -> near, 2L -> far, 3L -> base,
      4L -> far.map(x => -x))
    val out = SimilarityOps.semanticDedupApply(d, threshold = 0.9).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("n_dropped")).toMap
    assert(out === Map(0L -> 2L, 2L -> 0L, 4L -> 0L))
  }

  test("lshKnn finds the identical vector in the same bucket") {
    val v = (0 until 64).map(_.toFloat + 1f)
    val d = vecs(0L -> v, 10L -> v, 11L -> v.map(x => -x))
    val out = SimilarityOps.lshKnn(d, nQueries = 1, k = 5).collect()
    assert(out.exists(r => r.getAs[Long]("vec_id") == 10L && r.getAs[Double]("sim") == 1.0))
    assert(!out.exists(r => r.getAs[Long]("vec_id") == 11L))
  }

  test("ivfKnn probes the query's own cell and finds its duplicate") {
    // 3 well-separated groups of near-identical 64-dim vectors
    def grp(center: Float, n: Int, from: Long) =
      (0 until n).map(i => (from + i,
        (0 until 64).map(d => center + (if (d == (i % 64)) 0.001f else 0f))))
    val d = vecs((grp(1f, 20, 0L) ++ grp(-1f, 20, 100L) ++ grp(5f, 20, 200L)): _*)
    val dup = vecs((0L, (0 until 64).map(d => 1f + (if (d == 0) 0.001f else 0f)))).collect()
    val out = SimilarityOps.ivfKnn(d, nQueries = 1, k = 5, nlist = 3, nprobe = 1)
      .collect().sortBy(_.getAs[Int]("rnk"))
    assert(out.nonEmpty)
    // all neighbors come from the query's own (first) group
    assert(out.forall(r => r.getAs[Long]("vec_id") < 100L))
    assert(out.head.getAs[Double]("sim") > 0.999)
  }

  test("closestPairs returns the most similar pair first") {
    val d = vecs(0L -> Seq(1f, 0f, 0f, 0f), 1L -> Seq(0.99f, 0.1f, 0f, 0f),
      2L -> Seq(0f, 1f, 0f, 0f))
    val out = SimilarityOps.closestPairs(d, topN = 3).collect()
    assert((out.head.getLong(0), out.head.getLong(1)) === (0L, 1L))
  }

  test("closestPairs block join covers every pair exactly once") {
    // 7 vectors, blocks=3 (ids not multiples of blocks): C(7,2)=21 pairs
    val d = vecs((0L until 7L).map(i => i -> (0 until 8).map(_ => i + 1f)): _*)
    val out = SimilarityOps.closestPairs(d, topN = 100, blocks = 3).collect()
    assert(out.length === 21)
    assert(out.map(r => (r.getLong(0), r.getLong(1))).distinct.length === 21)
  }

  test("knnRecallGate emits violations only for low-recall queries") {
    val exact = Seq((0L, 1L), (0L, 2L), (1L, 1L), (1L, 2L))
      .toDF("query_id", "vec_id")
    val approx = Seq((0L, 1L), (0L, 2L), (1L, 9L), (1L, 8L))
      .toDF("query_id", "vec_id") // query 1 found nothing relevant
    val out = SimilarityOps.knnRecallGate(approx, exact, k = 2, minRecall = 0.9)
      .collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L))
    assert(out.head.getAs[Double]("recall") === 0.0)
  }

  test("a built IVF index is reusable across probe calls") {
    val emb = graft.io.Tables.parquet(spark, sf, "embeddings")
    val idx = SimilarityOps.buildIvfIndex(emb)
    idx.assigned.cache(); idx.assigned.count() // train once, reuse
    val a = SimilarityOps.probeIvf(idx, nQueries = 2, k = 5).collect()
    val b = SimilarityOps.probeIvf(idx, nQueries = 5, k = 3)
      .filter(_.getAs[Long]("query_id") < 2).collect()
    // same index → probe results agree on the shared prefix
    val aTop3 = a.filter(_.getAs[Int]("rnk") <= 3)
      .map(r => (r.getLong(0), r.getAs[Int]("rnk"), r.getAs[Long]("vec_id"))).toSet
    val bTop3 = b.map(r => (r.getLong(0), r.getAs[Int]("rnk"), r.getAs[Long]("vec_id"))).toSet
    assert(aTop3 === bTop3)
    idx.assigned.unpersist()
  }

  test("recall gates are empty on the fixture (q28/q34 contract)") {
    val emb = graft.io.Tables.parquet(spark, sf, "embeddings")
    assert(SimilarityOps.lshKnnRecallGate(emb).isEmpty)
    assert(SimilarityOps.ivfKnnRecallGate(emb).isEmpty)
  }

  test("PQ recall gate is empty on the fixture (q80 contract)") {
    val emb = graft.io.Tables.parquet(spark, sf, "embeddings")
    assert(SimilarityOps.pqKnnRecallGate(emb).isEmpty)
  }

  test("IVF-PQ: joint recall gate empty; candidates confined to the probed cells (q125 contract)") {
    val emb = graft.io.Tables.parquet(spark, sf, "embeddings")
    assert(SimilarityOps.ivfPqKnnRecallGate(emb).isEmpty)
    // the probe must never surface a vector outside nprobe cells:
    // with nprobe=1 every result's cell is its query's single nearest
    val index = SimilarityOps.buildIvfPqIndex(emb)
    val out = SimilarityOps.probeIvfPq(index, emb, nQueries = 2, k = 5,
      nprobe = 1).collect()
    assert(out.nonEmpty)
    val cellOf = index.cellCodes.select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val resultCells = out.groupBy(_.getAs[Long]("query_id"))
      .map { case (_, rows) =>
        rows.map(r => cellOf(r.getAs[Long]("vec_id"))).distinct.length
      }
    assert(resultCells.forall(_ === 1)) // one probed cell → one cell in results
  }

  test("PQ codes are deterministic, partition-independent, m-wide, and in codebook range") {
    val emb = graft.io.Tables.parquet(spark, sf, "embeddings")
    def codesOf(df: org.apache.spark.sql.DataFrame) = {
      val idx = SimilarityOps.buildPqIndex(df, m = 8)
      idx.codes.collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Int](1).toVector).toMap
    }
    val a = codesOf(emb)
    val b = codesOf(emb.repartition(7)) // layout must not change the codes
    assert(a === b)
    assert(a.nonEmpty && a.values.forall(_.length === 8))
    assert(a.values.forall(_.forall(c => c >= 0 && c < 256)))
  }

  test("pqKnn ranks a planted duplicate's reconstruction first") {
    val rng = new scala.util.Random(11)
    def rv() = (0 until 64).map(_ => rng.nextGaussian().toFloat)
    val base = (10L until 50L).map(i => i -> rv())
    val q = rv()
    // vec 0 is the query; vec 5 is its exact duplicate — they share
    // codes, so the reconstruction keeps them nearest
    val d = vecs(((0L -> q) +: (5L -> q) +: base): _*)
    val out = SimilarityOps.pqKnn(d, nQueries = 1, k = 3)
      .collect().sortBy(_.getAs[Int]("rnk"))
    assert(out.head.getAs[Long]("vec_id") === 5L)
  }

  test("IVF artifact round trip: the reloaded pruned probe equals the in-memory probe") {
    val emb = graft.io.Tables.parquet(spark, sf, "embeddings")
    val base = java.nio.file.Files.createTempDirectory("graft-ivf-spec-")
    try {
      val scope = graft.core.Scopes.create(spark, base.toString)
      val idx = SimilarityOps.buildIvfIndex(emb)
      SimilarityOps.saveIvfIndex(idx, scope, "ivf")
      // the artifact is laid out one directory per cell — the physical
      // property the pruned probe's PartitionFilters rely on
      val cellDirs = new java.io.File(
          Artifact.read(spark, scope, "ivf").table("assigned"))
        .listFiles().filter(_.getName.startsWith("cell="))
      assert(cellDirs.nonEmpty)
      val loaded = SimilarityOps.loadIvfIndex(spark, scope, "ivf")
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[Long]("query_id"), r.getAs[Int]("rnk"),
          r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))
      val mem = SimilarityOps.probeIvf(idx, nQueries = 3, k = 5, nprobe = 4)
        .collect().map(key).toSet
      val art = SimilarityOps.probeIvfPruned(loaded, emb, nQueries = 3, k = 5,
        nprobe = 4).collect().map(key).toSet
      assert(art === mem)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("IVF append: stored rows untouched, batch in nearest frozen cell, merged recall holds") {
    import org.apache.spark.sql.functions.col
    val emb = graft.io.Tables.parquet(spark, sf, "embeddings")
    val base = java.nio.file.Files.createTempDirectory("graft-ivf-append-")
    try {
      val scope = graft.core.Scopes.create(spark, base.toString)
      val even = emb.filter(col("vec_id") % 2 === 0)
      val odd = emb.filter(col("vec_id") % 2 === 1)
      SimilarityOps.saveIvfIndex(SimilarityOps.buildIvfIndex(even), scope, "ivf")
      def assignments() = Artifact.load(spark, scope, "ivf", "assigned")
        .select("vec_id", "cell").collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
      val before = assignments()
      SimilarityOps.appendToIvfIndex(odd, scope, "ivf")
      val after = assignments()
      // append-only: every pre-existing row keeps its cell, and exactly
      // the batch rows were added
      before.foreach { case (id, cell) => assert(after(id) === cell) }
      assert(after.size.toLong === before.size + odd.count())
      // each appended row sits in the argmin cell of the FROZEN
      // centroids (recomputed independently, sequential double fold
      // like vec_dot)
      def dot(a: Array[Float], b: Array[Float]): Double = {
        var s = 0.0; var i = 0
        while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
        s
      }
      val centroids = Artifact.load(spark, scope, "ivf", "centroids").collect()
        .map(r => r.getAs[Int]("cell") ->
          r.getSeq[Float](r.fieldIndex("centroid")).toArray).sortBy(_._1)
      odd.collect().foreach { r =>
        val v = r.getSeq[Float](r.fieldIndex("embedding")).toArray
        val n2 = dot(v, v)
        val want = centroids.minBy { case (c, cv) =>
          (n2 - 2 * dot(v, cv) + dot(cv, cv), c)
        }._1
        assert(after(r.getAs[Long]("vec_id")) === want)
      }
      // the merged reloaded index passes the same recall gate as q34/q78
      val loaded = SimilarityOps.loadIvfIndex(spark, scope, "ivf")
      val gate = SimilarityOps.knnRecallGate(
        SimilarityOps.probeIvfPruned(loaded, emb),
        SimilarityOps.bruteForceKnn(emb), k = 10, minRecall = 0.7)
      assert(gate.count() === 0L)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("PQ artifact round trip: the reloaded probe equals the in-memory probe") {
    val emb = graft.io.Tables.parquet(spark, sf, "embeddings")
    val base = java.nio.file.Files.createTempDirectory("graft-pq-spec-")
    try {
      val scope = graft.core.Scopes.create(spark, base.toString)
      val idx = SimilarityOps.buildPqIndex(emb)
      SimilarityOps.savePqIndex(idx, scope, "pq")
      val loaded = SimilarityOps.loadPqIndex(spark, scope, "pq")
      assert(loaded.m === idx.m && loaded.dsub === idx.dsub)
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[Long]("query_id"), r.getAs[Int]("rnk"),
          r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))
      val mem = SimilarityOps.probePq(idx, emb, nQueries = 3, k = 5)
        .collect().map(key).toSet
      val art = SimilarityOps.probePq(loaded, emb, nQueries = 3, k = 5)
        .collect().map(key).toSet
      assert(art === mem)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("PQ append: stored codes untouched, appended codes from frozen codebooks, merged gate holds") {
    import org.apache.spark.sql.functions.col
    val emb = graft.io.Tables.parquet(spark, sf, "embeddings")
    val base = java.nio.file.Files.createTempDirectory("graft-pq-append-")
    try {
      val scope = graft.core.Scopes.create(spark, base.toString)
      val even = emb.filter(col("vec_id") % 2 === 0)
      val odd = emb.filter(col("vec_id") % 2 === 1)
      SimilarityOps.savePqIndex(SimilarityOps.buildPqIndex(even), scope, "pq")
      def codes() = Artifact.load(spark, scope, "pq", "codes")
        .collect().map(r => r.getAs[Long]("vec_id") ->
          r.getSeq[Int](r.fieldIndex("codes"))).toMap
      val before = codes()
      SimilarityOps.appendToPqIndex(odd, scope, "pq")
      val after = codes()
      before.foreach { case (id, c) => assert(after(id) === c) }
      assert(after.size.toLong === before.size + odd.count())
      // appended codes come from the FROZEN stored codebooks: encoding
      // the batch against a freshly-RELOADED index's codebooks via the
      // decode/encode identity must reproduce them — spot-check that
      // each appended code indexes a real codeword of its subspace
      val loaded = SimilarityOps.loadPqIndex(spark, scope, "pq")
      val kPerSub = loaded.codebooks.groupBy("sub").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      odd.select("vec_id").collect().map(_.getLong(0)).take(20).foreach { id =>
        after(id).zipWithIndex.foreach { case (c, s) =>
          assert(c >= 0 && c < kPerSub(s))
        }
      }
      val gate = SimilarityOps.knnRecallGate(
        SimilarityOps.probePq(loaded, emb),
        SimilarityOps.bruteForceKnn(emb), k = 10, minRecall = 0.7)
      assert(gate.count() === 0L)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("IVF-PQ artifact: save/reload equals in-memory; frozen append keeps stored rows and holds the joint gate") {
    import org.apache.spark.sql.functions.col
    val emb = graft.io.Tables.parquet(spark, sf, "embeddings")
    val base = java.nio.file.Files.createTempDirectory("graft-ivfpq-spec-")
    try {
      val scope = graft.core.Scopes.create(spark, base.toString)
      val even = emb.filter(col("vec_id") % 2 === 0)
      val odd = emb.filter(col("vec_id") % 2 === 1)
      val idx = SimilarityOps.buildIvfPqIndex(even)
      SimilarityOps.saveIvfPqIndex(idx, scope, "ivfpq")
      val reloaded = SimilarityOps.loadIvfPqIndex(spark, scope, "ivfpq")
      assert(reloaded.m === idx.m && reloaded.dsub === idx.dsub)
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[Long]("query_id"), r.getAs[Int]("rnk"),
          r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))
      // the reloaded probe is the in-memory probe — storage is layout,
      // not semantics
      val mem = SimilarityOps.probeIvfPq(idx, emb, nQueries = 3, k = 5)
        .collect().map(key).toSet
      assert(SimilarityOps.probeIvfPq(reloaded, emb, nQueries = 3, k = 5)
        .collect().map(key).toSet === mem)
      def stored() = Artifact.load(spark, scope, "ivfpq", "cells")
        .select("vec_id", "cell", "codes").collect()
        .map(r => r.getAs[Long]("vec_id") ->
          (r.getAs[Int]("cell"), r.getSeq[Int](r.fieldIndex("codes"))))
        .toMap
      val before = stored()
      SimilarityOps.appendToIvfPqIndex(odd, scope, "ivfpq")
      val after = stored()
      // append-only: every stored (cell, codes) row survives untouched
      before.foreach { case (id, v) => assert(after(id) === v) }
      assert(after.size.toLong === before.size + odd.count())
      // the merged reloaded artifact holds q125's joint recall gate
      val merged = SimilarityOps.loadIvfPqIndex(spark, scope, "ivfpq")
      val gate = SimilarityOps.knnRecallGate(
        SimilarityOps.probeIvfPq(merged, emb),
        SimilarityOps.bruteForceKnn(emb), k = 10, minRecall = 0.6)
      assert(gate.count() === 0L)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("int8 quantization bounds codes and reconstruction error; zero vectors stay zero") {
    val d = vecs(
      0L -> Seq(0.5f, -1.0f, 0.25f, 0.125f),
      1L -> Seq(0.0f, 0.0f, 0.0f, 0.0f), // maxabs = 0: no div-by-zero
      2L -> Seq(3.0f, -4.0f, 0.0f, 1.5f))
    val qdf = SimilarityOps.quantizeInt8(d)
    val out = qdf.collect().map { r =>
      r.getAs[Long]("vec_id") ->
        (r.getAs[Double]("maxabs"),
          r.getSeq[Int](qdf.schema.fieldIndex("q")).toVector)
    }.toMap
    assert(out(1L)._2 === Vector(0, 0, 0, 0))
    val origById = d.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toVector).toMap
    out.foreach { case (id, (maxabs, q)) =>
      assert(q.forall(c => c >= -127 && c <= 127), s"vec $id codes $q")
      if (maxabs > 0) {
        val orig = origById(id)
        orig.zip(q).foreach { case (x, c) =>
          // symmetric max-abs scaling: |x - c·maxabs/127| ≤ maxabs/254
          assert(math.abs(x - c * maxabs / 127.0) <= maxabs / 254.0 + 1e-9,
            s"vec $id x=$x c=$c maxabs=$maxabs")
        }
      }
    }
    // the extreme elements map to ±127 exactly
    assert(out(2L)._2(1) === -127)
    assert(out(0L)._2(1) === -127)
  }

  test("quantized embeddings preserve kNN neighborhoods on the fixture (recall@10 >= 0.9)") {
    val e = graft.io.Tables.parquet(spark, sf, "embeddings")
    val deq = SimilarityOps.quantizeInt8(e).selectExpr("vec_id",
      """transform(q, x -> cast(cast(x as double) * maxabs / 127.0D as float))
        |  as embedding""".stripMargin)
    def top(df: org.apache.spark.sql.DataFrame) =
      SimilarityOps.bruteForceKnn(df, nQueries = 5, k = 10).collect()
        .groupBy(_.getAs[Long]("query_id"))
        .view.mapValues(_.map(_.getAs[Long]("vec_id")).toSet).toMap
    val exact = top(e)
    val quant = top(deq)
    val recalls = exact.map { case (qid, ids) =>
      quant(qid).intersect(ids).size.toDouble / ids.size }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean recall@10 $mean")
  }

  test("labelCentroids computes the exact fixed-point mean per (label, dim)") {
    val d = Seq(
      (0L, Seq(1.0f, -2.0f), 1),
      (1L, Seq(3.0f, 6.0f), 1),
      (2L, Seq(10.0f, 0.5f), 2)
    ).toDF("vec_id", "embedding", "label")
    val out = SimilarityOps.labelCentroids(d).collect()
      .map(r => (r.getAs[Int]("label"), r.getAs[Int]("dim")) ->
        (r.getAs[Double]("centroid"), r.getAs[Long]("n"))).toMap
    assert(out((1, 0)) === ((2.0, 2L)))
    assert(out((1, 1)) === ((2.0, 2L)))
    assert(out((2, 0)) === ((10.0, 1L)))
    assert(out((2, 1)) === ((0.5, 1L)))
    assert(out.size === 4)
  }

  test("labelCentroids is bit-stable across partitionings of the same data") {
    val e = graft.io.Tables.parquet(spark, sf, "embeddings")
    def run(df: org.apache.spark.sql.DataFrame) =
      SimilarityOps.labelCentroids(df).collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val a = run(e.repartition(1))
    val b = run(e.repartition(13, org.apache.spark.sql.functions.col("vec_id")))
    assert(a === b) // exact ==, not tolerance: long sums are associative
  }

  test("incrementally merged centroid sums are BIT-identical to the full recompute") {
    val e = graft.io.Tables.parquet(spark, sf, "embeddings")
    val full = SimilarityOps.labelCentroids(e).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getDouble(2), r.getLong(3)))
      .toMap
    val merged = SimilarityOps.centroidsFromSums(
        SimilarityOps.mergeCentroidSums(Seq(
          SimilarityOps.labelCentroidSums(
            e.filter(org.apache.spark.sql.functions.col("vec_id") % 2 === 0)),
          SimilarityOps.labelCentroidSums(
            e.filter(org.apache.spark.sql.functions.col("vec_id") % 2 === 1)))))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getDouble(2), r.getLong(3)))
      .toMap
    assert(merged === full) // exact ==, not tolerance: long sums merge
  }

  test("centroidOutliers ranks the planted far vector first in its label") {
    // label 1: three vectors near (1, 1) plus one planted at (9, 9) —
    // the plant must rank 1; label 2 has a single member whose
    // distance to its own centroid is exactly 0
    val d = Seq(
      (0L, Seq(1.0f, 1.0f), 1),
      (1L, Seq(1.1f, 0.9f), 1),
      (2L, Seq(0.9f, 1.1f), 1),
      (3L, Seq(9.0f, 9.0f), 1),
      (4L, Seq(5.0f, 5.0f), 2)
    ).toDF("vec_id", "embedding", "label")
    val out = SimilarityOps.centroidOutliers(d, topK = 2).collect()
      .map(r => (r.getAs[Int]("label"), r.getAs[Int]("rnk")) ->
        (r.getAs[Long]("vec_id"), r.getAs[Long]("d2"))).toMap
    assert(out((1, 1))._1 === 3L)
    assert(out((2, 1)) === ((4L, 0L)))
    assert(out.size === 3) // label 1 yields 2 rows, label 2 only its 1
  }

  test("centroidOutliers is partitioning-invariant (integer distances, ties by vec_id)") {
    val e = graft.io.Tables.parquet(spark, sf, "embeddings")
    def run(df: org.apache.spark.sql.DataFrame) =
      SimilarityOps.centroidOutliers(df).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        .sortBy(t => (t._1, t._2))
    assert(run(e.repartition(1)) === run(
      e.repartition(13, org.apache.spark.sql.functions.col("vec_id"))))
  }

  test("kmeansStep partitions the corpus into k clusters that cover every vector") {
    val e = graft.io.Tables.parquet(spark, sf, "embeddings")
    val total = e.count()
    val out = SimilarityOps.kmeansStep(e, k = 4).collect()
    val dims = e.selectExpr("size(embedding) d").distinct().collect()
      .map(_.getInt(0)).max
    val byCluster = out.groupBy(_.getAs[Int]("cluster"))
    assert(byCluster.keySet.subsetOf((1 to 4).toSet))
    // each cluster contributes exactly `dims` centroid rows with one
    // shared member count; counts over clusters partition the corpus
    val counts = byCluster.map { case (c, rows) =>
      assert(rows.map(_.getAs[Int]("dim")).sorted === (0 until dims).toArray)
      assert(rows.map(_.getAs[Long]("n")).distinct.length === 1)
      rows.head.getAs[Long]("n")
    }
    assert(counts.sum === total)
  }

  test("kmeansAssign picks the true integer-L2 argmin for every vector") {
    val e = graft.io.Tables.parquet(spark, sf, "embeddings")
    val seeds = SimilarityOps.kmeansSeeds(e, k = 4)
    val sq = seeds.collect()
      .map(r => r.getAs[Int]("cid") -> r.getSeq[Long](1).toArray).toMap
    val assigned = SimilarityOps.kmeansAssign(e, seeds).collect()
    assert(assigned.length === e.count())
    val s = 1L << 20
    assigned.foreach { r =>
      // HALF_UP (away from zero) like Spark's round, not math.round's
      // toward-positive-infinity halves
      val vq = r.getSeq[Float](r.fieldIndex("embedding"))
        .map(x => BigDecimal(x.toDouble * s)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).toArray
      val dists = sq.view.mapValues(c =>
        vq.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum).toMap
      val best = dists.toSeq.minBy { case (cid, d) => (d, cid) }
      assert(r.getAs[Int]("cluster") === best._1, s"vec ${r.get(0)}")
      assert(r.getAs[Long]("d2") === best._2)
    }
  }

  test("kmeans with one iteration equals kmeansStep; three iterations still partition the corpus") {
    val e = graft.io.Tables.parquet(spark, sf, "embeddings")
    def key(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getInt(0), r.getInt(1)) -> ((r.getDouble(2), r.getLong(3))))
      .toMap
    assert(key(SimilarityOps.kmeans(e, k = 4, iters = 1).collect()) ===
      key(SimilarityOps.kmeansStep(e, k = 4).collect()))
    val out3 = SimilarityOps.kmeans(e, k = 4, iters = 3).collect()
    val counts = out3.groupBy(_.getInt(0))
      .map { case (_, rows) => rows.map(_.getLong(3)).head }
    assert(counts.sum === e.count()) // every vector assigned each round
  }

  test("hybridSearch fuses vector and lexical ranks; both-list docs beat single-list docs") {
    import org.apache.spark.sql.functions.lit
    // query doc 0: doc 10 matches lexically AND by vector; doc 11 only
    // by vector; doc 12 only lexically; doc 13 neither
    val docs = Seq(
      0L -> "alpha beta gamma delta",
      10L -> "alpha beta gamma epsilon",
      11L -> "zz yy xx ww",
      12L -> "alpha beta qq rr",
      13L -> "mm nn oo pp").toDF("doc_id", "text")
      .withColumn("lang", lit("xx"))
    val v0 = Seq(1.0f, 0.0f, 0.0f)
    val emb = Seq(
      0L -> v0,
      10L -> Seq(0.9f, 0.1f, 0.0f),
      11L -> Seq(0.8f, 0.2f, 0.0f),
      12L -> Seq(-1.0f, 0.0f, 0.1f),
      13L -> Seq(-0.9f, -0.1f, 0.2f)).toDF("vec_id", "embedding")
    val out = SimilarityOps.hybridSearch(docs, emb, nQueries = 1,
      perList = 2, k = 4).collect().sortBy(_.getAs[Int]("rnk"))
    // doc 13 is in NEITHER top-2 list → absent; 11 vs 12 tie on rrf
    // (one rank-2 entry each) and break by doc_id
    assert(out.map(_.getAs[Long]("doc_id")).toSeq === Seq(10L, 11L, 12L))
    val r10 = out.head
    // doc 10 is rank 1 in both lists: rrf = 2/61
    assert(r10.getAs[Double]("rrf") ===
      BigDecimal(1.0 / 61 + 1.0 / 61).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(r10.getAs[Int]("r_vec") === 1 && r10.getAs[Int]("r_lex") === 1)
    // single-list docs carry a null rank on the missing side
    assert(out(1).isNullAt(out(1).fieldIndex("r_lex")))
    assert(out(2).isNullAt(out(2).fieldIndex("r_vec")))
  }
}
