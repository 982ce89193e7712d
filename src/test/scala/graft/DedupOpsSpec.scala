package graft

import graft.io.Artifact
import graft.ops.DedupOps

class DedupOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("exactDedup groups identical normalized text") {
    val d = docs(1L -> "Hello World", 2L -> "  hello world ", 3L -> "other")
    val out = DedupOps.exactDedup(d).collect()
    assert(out.length === 2)
    val dup = out.find(_.getAs[Long]("n_copies") == 2L).get
    assert(dup.getAs[Long]("doc_id") === 1L)
  }

  test("minhashLshPairs finds near-identical docs, not unrelated ones") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 30).map(i => s"w$i").updated(29, "changed").mkString(" ")
    val other = (1 to 30).map(i => s"z$i").mkString(" ")
    val d = docs(1L -> base, 2L -> nearDup, 3L -> other)
    val pairs = DedupOps.minhashLshPairs(d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("band artifact: append-only, geometry from metadata, pairs equal the full rebuild") {
    import org.apache.spark.sql.functions.col
    val d = graft.io.Tables.parquet(spark, sf, "documents")
    val base = java.nio.file.Files.createTempDirectory("graft-bands-spec-")
    try {
      val scope = graft.core.Scopes.create(spark, base.toString)
      // build under a NON-default geometry: append must pick it up
      // from the artifact metadata, not its own defaults
      DedupOps.saveBands(d.filter(col("doc_id") % 2 === 0), scope, "bands",
        numHashes = 8)
      val rowsPath = Artifact.read(spark, scope, "bands").table("rows")
      def files(): Map[String, Long] = {
        val p = new org.apache.hadoop.fs.Path(rowsPath)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val it = fs.listFiles(p, true)
        val buf = scala.collection.mutable.Map.empty[String, Long]
        while (it.hasNext) {
          val f = it.next()
          if (f.getPath.getName.endsWith(".parquet"))
            buf(f.getPath.toString) = f.getLen
        }
        buf.toMap
      }
      val before = files()
      DedupOps.appendBands(d.filter(col("doc_id") % 2 === 1), scope, "bands")
      val after = files()
      // append-only: every pre-existing file survives byte-identical
      before.foreach { case (f, len) => assert(after(f) === len) }
      assert(after.size > before.size)
      // the merged artifact's pairs equal the full rebuild under the
      // SAME geometry (banding is stateless per document)
      def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1))
      val stored = DedupOps.lshPairsFromBands(
        DedupOps.loadBands(spark, scope, "bands")).collect().map(key).toSet
      val rebuilt = DedupOps.minhashLshPairs(d, numHashes = 8)
        .collect().map(key).toSet
      assert(stored === rebuilt)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("row-wise minhash bands are bit-identical to the batch explode+groupBy form") {
    val d = graft.io.Tables.parquet(spark, sf, "documents")
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_id"), r.getAs[Long]("b"), r.getAs[String]("bh"))
    val batch = DedupOps.minhashBands(d).collect().map(key).toSet
    val rowwise = DedupOps.minhashBandsRowwise(d).collect().map(key).toSet
    assert(rowwise === batch)
    assert(batch.nonEmpty)
  }

  test("jaccardPairs computes exact n-gram jaccard") {
    // doc1: tokens a b c d -> 3-grams {abc, bcd}; doc2 shares {bcd} of {bcd, cde}
    val d = docs(1L -> "a b c d", 2L -> "b c d e")
    val out = DedupOps.jaccardPairs(d, threshold = 0.0).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Double]("jaccard") === 0.333333) // round(1/3, 6)
  }

  test("simhash: identical docs share signatures; hamming 0 pair found") {
    val d = docs(1L -> "alpha beta gamma delta", 2L -> "alpha beta gamma delta",
      3L -> "completely different words here")
    val sigs = DedupOps.simhashSignatures(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) === sigs(2L))
    val pairs = DedupOps.simhashPairs(d).collect()
    val p12 = pairs.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(p12.isDefined && p12.get.getAs[Int]("hamming") === 0)
  }

  test("simhash signature fits in 60 bits and is non-trivial") {
    val d = docs(1L -> "some words of text")
    val s = DedupOps.simhashSignatures(d).collect().head.getLong(1)
    assert(s >= 0L && s <= (1L << DedupOps.simhashBits) - 1)
    assert(s !== 0L)
  }

  test("winnowing guarantee: a shared >= k+w-1 token passage always yields a pair") {
    // k=5, w=4: the gap bound says any shared run of 8+ tokens MUST
    // surface a shared selected fingerprint, wherever it sits in
    // either document and whatever surrounds it
    val passage = (1 to 8).map(i => s"p$i").mkString(" ")
    val noiseA = (1 to 20).map(i => s"a$i").mkString(" ")
    val noiseB = (1 to 20).map(i => s"b$i").mkString(" ")
    val noiseC = (1 to 20).map(i => s"c$i").mkString(" ")
    val d = docs(
      1L -> s"$noiseA $passage",  // passage at the end
      2L -> s"$passage $noiseB",  // passage at the start
      3L -> noiseC)               // shares nothing with either
    val pairs = DedupOps.winnowedPassagePairs(d)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs === Set((1L, 2L)), pairs)
  }

  test("winnowed fingerprints are a subset of shingle hashes, ~2/(w+1) dense, never empty on long docs") {
    val d = docs(1L -> (1 to 100).map(i => s"t${i % 37}x$i").mkString(" "))
    val fps = DedupOps.winnowedFingerprints(d).collect().map(_.getString(1))
    val nShingles = 100 - 5 + 1
    assert(fps.nonEmpty && fps.length < nShingles / 2) // far sparser than all shingles
    assert(fps.distinct.length === fps.length)          // per-doc dedup held
    // a doc shorter than k+w-1 tokens yields no fingerprints at all
    assert(DedupOps.winnowedFingerprints(docs(2L -> "one two three")).count() === 0L)
  }

  test("containment fires on an embedded document where jaccard stays silent") {
    val small = (1 to 20).map(i => s"s$i").mkString(" ")
    val wrapper = ((1 to 90).map(i => s"w$i") ++ (1 to 20).map(i => s"s$i") ++
      (91 to 180).map(i => s"w$i")).mkString(" ")
    val other = (1 to 200).map(i => s"z$i").mkString(" ")
    val d = docs(1L -> small, 2L -> wrapper, 3L -> other)
    // every small-doc shingle appears in the wrapper → overlap = 1.0
    val over = DedupOps.overlapPairs(d)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(over.keySet === Set((1L, 2L)))
    assert(over((1L, 2L)) === 1.0)
    // jaccard of the same pair is 18/(18 + 198 - 18) ≈ 0.09 — silent
    val jac = DedupOps.jaccardPairs(d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jac.contains((1L, 2L)))
  }

  test("incremental exact dedup admits only content unseen in the existing corpus") {
    val existing = docs(1L -> "alpha text", 2L -> "beta text")
    val batch = docs(
      10L -> "  ALPHA text ", // normalized dup of existing → rejected
      11L -> "gamma text",    // fresh
      12L -> "gamma text",    // within-batch dup → folded
      13L -> "delta text")
    val out = DedupOps.incrementalExactDedup(batch, existing).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_copies")).toMap
    assert(out === Map(11L -> 2L, 13L -> 1L))
  }

  test("bloom-accelerated incremental dedup equals the exact operator, even with heavy false positives") {
    val existing = docs(1L -> "alpha text", 2L -> "beta text")
    val batch = docs(10L -> "  ALPHA text ", 11L -> "gamma text",
      12L -> "gamma text", 13L -> "delta text")
    val exact = DedupOps.incrementalExactDedup(batch, existing)
      .collect().map(_.toSeq).toSet
    // a deliberately tiny, high-fpp filter: most fresh rows will be
    // flagged maybe-dup, and the exact re-check must still save them
    val bloom = DedupOps.incrementalExactDedupBloom(batch, existing,
      expectedItems = 2, fpp = 0.5).collect().map(_.toSeq).toSet
    assert(bloom === exact)
    assert(exact.nonEmpty)
  }

  test("bloom-accelerated dedup releases its internal cache (only the result checkpoint remains)") {
    val existing = docs(1L -> "alpha text", 2L -> "beta text")
    val batch = docs(10L -> "gamma text", 11L -> "delta text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    DedupOps.incrementalExactDedupBloom(batch, existing)
    val delta = spark.sparkContext.getPersistentRDDs.keySet -- before
    // exactly the eager result localCheckpoint — the internal `flagged`
    // persist must have been unpersisted before the method returned
    assert(delta.size === 1, s"leaked cached RDDs: $delta")
  }

  test("incremental near-dup candidates surface only cross (new, existing) pairs") {
    val existing = docs(1L -> ("the quick brown fox jumps over the lazy dog " * 3),
      2L -> "completely different content about databases and engines here")
    val batch = docs(
      10L -> ("the quick brown fox jumps over the lazy dog " * 3 + "extra"),
      11L -> "unrelated new material with no shared shingles at all whatsoever")
    val pairs = DedupOps.incrementalNearDupCandidates(batch, existing).collect()
      .map(r => (r.getAs[Long]("doc_new"), r.getAs[Long]("doc_existing"))).toSet
    assert(pairs.contains((10L, 1L)))       // the near-dup is caught
    assert(!pairs.exists(_._1 == 11L))      // the fresh doc matches nothing
    assert(pairs.forall(p => p._1 >= 10L && p._2 < 10L)) // cross pairs only
  }

  test("spanDedup keeps exactly the first occurrence of each span") {
    def md5(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val d = docs(
      1L -> "a b c d",      // spans [a b][c d] — both fresh
      2L -> "a b x y",      // [a b] repeats doc 1 → dropped; [x y] kept
      3L -> "c d c d",      // both spans repeat doc 1 → nothing kept
      4L -> "e f g",        // short final span [g] still counts
      5L -> "q r q r q")    // intra-doc repeat: only span 0 (+tail) kept
    val out = DedupOps.spanDedup(d, span = 2).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_spans"), r.getAs[Long]("n_kept"),
          r.getAs[Long]("n_kept_tok"), r.getAs[String]("kept_md5")))).toMap
    assert(out(1L) === ((2L, 2L, 4L, md5(md5("a b") + " " + md5("c d")))))
    assert(out(2L) === ((2L, 1L, 2L, md5(md5("x y")))))
    assert(out(3L) === ((2L, 0L, 0L, md5(""))))
    assert(out(4L) === ((2L, 2L, 3L, md5(md5("e f") + " " + md5("g")))))
    assert(out(5L) === ((3L, 2L, 3L, md5(md5("q r") + " " + md5("q")))))
  }

  test("spanDedup conservation: survivors across the corpus = distinct spans") {
    import org.apache.spark.sql.functions._
    val toksExpr =
      "filter(split(trim(text), '[ \\\\t\\\\n\\\\x0B\\\\f\\\\r]+'), x -> x <> '')"
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val out = DedupOps.spanDedup(d, span = 20)
    val totals = out.agg(sum("n_spans"), sum("n_kept")).head()
    val distinctSpans = d
      .withColumn("w", expr(toksExpr))
      .withColumn("i", explode(expr(
        "case when size(w) > 0 then sequence(0, cast((size(w)-1)/20 as int)) else array() end")))
      .select(expr("concat_ws(' ', slice(w, i * 20 + 1, 20))").as("s"))
      .distinct().count()
    assert(totals.getLong(1) === distinctSpans)   // every distinct span kept once
    assert(totals.getLong(1) <= totals.getLong(0))
    assert(out.count() === d.filter(expr(s"size($toksExpr) > 0")).count())
  }
}
