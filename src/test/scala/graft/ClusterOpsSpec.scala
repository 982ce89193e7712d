package graft

import graft.io.Artifact
import graft.ops.ClusterOps

class ClusterOpsSpec extends SparkSpec {
  import spark.implicits._

  /** localMaxEdges = -1 forces the distributed star loop; the default
    * exercises the driver union-find fast path.
    */
  private def cc(vertices: Seq[Long], edges: Seq[(Long, Long)],
                 localMaxEdges: Long = 1L << 21): Map[Long, Long] =
    ClusterOps.connectedComponents(
        vertices.toDF("doc_id"), edges.toDF("doc_a", "doc_b"),
        localMaxEdges = localMaxEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("chain + singleton resolve to component minimum") {
    val out = cc(Seq(1L, 2L, 3L, 4L, 9L), Seq(2L -> 3L, 3L -> 4L, 1L -> 2L))
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 9L -> 9L))
  }

  test("two components stay separate; edge order/direction irrelevant") {
    val out = cc(Seq(1L, 2L, 3L, 10L, 11L, 12L),
      Seq(11L -> 10L, 2L -> 1L, 12L -> 11L, 3L -> 1L))
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("no edges: every vertex is its own canonical") {
    val out = cc(Seq(5L, 6L), Seq.empty)
    assert(out === Map(5L -> 5L, 6L -> 6L))
  }

  test("long path converges (log-round star contraction, distributed path)") {
    // a 64-node path is the worst case for naive label propagation;
    // large-star/small-star must close it well inside maxIter
    val n = 64L
    val out = cc(1L to n, (1L until n).map(i => i -> (i + 1)), localMaxEdges = -1L)
    assert(out.values.toSet === Set(1L))
    assert(out.size === n.toInt)
  }

  test("duplicate and self-referential edges are tolerated") {
    val out = cc(Seq(1L, 2L), Seq(1L -> 2L, 2L -> 1L, 1L -> 2L, 2L -> 2L))
    assert(out === Map(1L -> 1L, 2L -> 1L))
  }

  test("random graphs match a union-find reference implementation") {
    val rng = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 40 + trial * 10
      val vertices = (0L until n.toLong).toSeq
      val edges = Seq.fill(n / 2)(
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // driver-side union-find oracle
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = vertices.map(v => v -> find(v.toInt).toLong).toMap
      // both the driver fast path and the distributed star loop
      assert(cc(vertices, edges) === expected, s"trial $trial (local)")
      assert(cc(vertices, edges, localMaxEdges = -1L) === expected,
        s"trial $trial (distributed)")
    }
  }

  test("nearDupClusters groups exact+near duplicates on the fixture") {
    val d = graft.io.Tables.parquet(spark, sf, "documents")
    val out = ClusterOps.nearDupClusters(d)
    val m = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m.size === d.count())          // every doc labeled exactly once
    assert(m.forall { case (id, c) => c <= id }) // canonical is component min
    assert(m.exists { case (id, c) => c < id })  // fixture has real dup groups
  }

  test("trainingCorpus composes dedup, quality, lang, decontamination, and sample stages") {
    val d = graft.io.Tables.parquet(spark, sf, "documents")
    val corpus = ClusterOps.trainingCorpus(d).collect()
    assert(corpus.nonEmpty)
    val kept = ClusterOps.dedupedCorpus(d)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    import org.apache.spark.sql.functions.col
    val contaminated = graft.ops.TextOps.benchmarkContamination(
        d.filter(col("doc_id") % 10 =!= 7), d.filter(col("doc_id") % 10 === 7))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    corpus.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(kept.contains(id))  // only canonicals
      assert(id % 10 !== 7)      // the benchmark slice never trains
      assert(!contaminated.contains(id)) // nor anything that leaks it
      assert(r.getAs[Double]("quality") >= 0.5)
      assert(Set("en", "de", "fr", "es").contains(r.getAs[String]("lang")))
    }
    // the sample is a strict, deterministic subset of the filtered set
    val full = ClusterOps.trainingCorpus(d, sampleRate = 1.0).count()
    assert(corpus.length < full)
    assert(ClusterOps.trainingCorpus(d).count() === corpus.length)
  }

  test("incrementalIngest admits only fresh, non-near-dup, gated docs within source budgets") {
    import org.apache.spark.sql.functions.{col, expr}
    val d = graft.io.Tables.parquet(spark, sf, "documents")
    val batch = d.filter(col("doc_id") % 2 === 1)
    val corpus = d.filter(col("doc_id") % 2 === 0)
    val out = ClusterOps.incrementalIngest(batch, corpus).collect()
    assert(out.nonEmpty)
    val ids = out.map(_.getAs[Long]("doc_id")).toSet
    assert(ids.forall(_ % 2 === 1)) // only batch rows are admitted
    // nothing admitted carries a fingerprint the corpus already has
    val corpusFps = corpus
      .select(expr(graft.ops.DedupOps.contentFingerprintSql).as("fp"))
      .collect().map(_.getString(0)).toSet
    val admittedFps = batch.filter(col("doc_id").isin(ids.toSeq: _*))
      .select(expr(graft.ops.DedupOps.contentFingerprintSql).as("fp"))
      .collect().map(_.getString(0))
    assert(admittedFps.forall(!corpusFps.contains(_)))
    // no admitted doc is a band-candidate against the corpus
    val nearDup = graft.ops.DedupOps
      .incrementalNearDupCandidates(batch, corpus)
      .select("doc_new").collect().map(_.getLong(0)).toSet
    assert(ids.forall(!nearDup.contains(_)))
    // gates and the per-source intake budget hold
    out.foreach { r =>
      assert(r.getAs[Double]("quality") >= 0.5)
      assert(Set("en", "de", "fr", "es").contains(r.getAs[String]("lang")))
    }
    val bySource = out.groupBy(_.getAs[String]("source")).map(_._2.length)
    assert(bySource.forall(_ <= 5))
  }

  test("sourceOverlap counts clusters per source pair; within-source dups don't pair") {
    val dup = ("lorem ipsum dolor sit amet consectetur adipiscing elit " * 6).trim
    val other = ("omega psi chi phi upsilon tau sigma rho " * 6).trim
    val d = Seq(
      // cluster A spans s1, s2, s3
      (1L, dup, "en", "s1"), (2L, dup, "en", "s2"), (3L, dup, "en", "s3"),
      // cluster B lives entirely inside s1 — no cross-source evidence
      (10L, other, "en", "s1"), (11L, other, "en", "s1"),
      // singleton — contributes nothing
      (20L, "standalone text body quite unlike anything else here", "en", "s4"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text"))
    val out = ClusterOps.sourceOverlap(d).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out === Map(("s1", "s2") -> 1L, ("s1", "s3") -> 1L,
      ("s2", "s3") -> 1L))
    // the whole report family accepts a precomputed labels artifact —
    // one CC resolution can feed q104/q108/q109 without recomputing
    val labels = ClusterOps.nearDupClusters(d)
    val reused = ClusterOps.sourceOverlap(d, Some(labels)).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(reused === out)
    assert(ClusterOps.clusterSizeHistogram(d, Some(labels)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(3L -> 1L, 2L -> 1L, 1L -> 1L))
  }

  test("bestOfClusterCorpus keeps the highest-quality member, ties to the smaller id") {
    // doc 1 and doc 2 are verbatim near-dups (same shingles → same
    // minhash bands); doc 2 carries the quality markers (stopwords,
    // punctuation), so the BEST member is NOT the min-id canonical
    val dup = ("alpha beta gamma delta epsilon zeta eta theta " * 6).trim
    val rich = dup + " the and of to in is a. the and of to in is."
    val d = Seq(
      (1L, dup, "en", "s"), (2L, rich, "en", "s"),
      (9L, "unique solitary document body nine", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text"))
    val out = ClusterOps.bestOfClusterCorpus(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3)))).toMap
    assert(out(1L) === ((2L, 2L)), out)   // cluster {1,2}: doc 2 wins on quality
    assert(out(9L) === ((9L, 1L)))        // singleton keeps itself
    // exact ties (identical quality) break to the SMALLER doc_id
    val tied = Seq((5L, dup, "en", "s"), (3L, dup, "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text"))
    val t = ClusterOps.bestOfClusterCorpus(tied).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(t === Map(3L -> 3L))
  }

  test("leakageFreeSplit is cluster-atomic, total, and deterministic") {
    import org.apache.spark.sql.functions._
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val labels = ClusterOps.nearDupClusters(docs)
    val split = ClusterOps.leakageFreeSplit(docs, valFrac = 0.2,
      testFrac = 0.2, labelsOpt = Some(labels))
    // total: every document is assigned exactly once
    assert(split.count() === docs.count())
    assert(split.select("doc_id").distinct().count() === docs.count())
    // cluster-atomic: no cluster straddles a split boundary — the
    // leakage guarantee itself
    val straddlers = split.groupBy("canonical_id")
      .agg(countDistinct("split").as("n"))
      .filter(col("n") > 1).count()
    assert(straddlers === 0)
    // all three splits materialize at these fractions on the fixture,
    // near-dup members riding their cluster's assignment
    val byName = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byName.keySet === Set("train", "val", "test"), byName)
    assert(byName("train") > byName("val") && byName("train") > byName("test"))
    // deterministic: recomputation reproduces the exact assignment
    val again = ClusterOps.leakageFreeSplit(docs, valFrac = 0.2,
      testFrac = 0.2, labelsOpt = Some(labels))
    assert(split.exceptAll(again).count() === 0)
    assert(again.exceptAll(split).count() === 0)
    // a different salt reshuffles clusters (decorrelated assignment)
    val other = ClusterOps.leakageFreeSplit(docs, valFrac = 0.2,
      testFrac = 0.2, salt = "other", labelsOpt = Some(labels))
    assert(split.exceptAll(other).count() > 0)
  }

  test("corpusShards deals the flagship corpus into training-ready shards") {
    import org.apache.spark.sql.functions._
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val out = ClusterOps.corpusShards(docs, nShards = 4).cache()
    val corpus = ClusterOps.trainingCorpusV2(docs)
    // the shard assignment decorates the selected corpus 1:1 — same
    // documents, nothing added or dropped
    assert(out.count() === corpus.count())
    assert(out.select("doc_id").exceptAll(corpus.select("doc_id")).count() === 0)
    // train rows carry a real (shard, pos) address; val/test ship
    // whole with the -1 sentinel on both
    val train = out.filter(col("split") === "train")
    assert(train.filter(col("shard") < 0 || col("pos") < 1).count() === 0)
    assert(out.filter(col("split") =!= "train")
      .filter(col("shard") =!= -1 || col("pos") =!= -1).count() === 0)
    assert(train.agg(max("shard")).head.getInt(0) <= 3)
    // in-shard positions are the contiguous sequence 1..n(shard) —
    // the replayable read order a training loader consumes
    val perShard = train.groupBy("shard")
      .agg(count(lit(1)).as("n"), min("pos").as("lo"), max("pos").as("hi"))
      .collect()
    perShard.foreach { r =>
      assert(r.getAs[Int]("lo") === 1)
      assert(r.getAs[Int]("hi").toLong === r.getAs[Long]("n"))
    }
    // deterministic end to end: recomputation reproduces the addresses
    val again = ClusterOps.corpusShards(docs, nShards = 4)
    assert(out.exceptAll(again).count() === 0)
    assert(again.exceptAll(out).count() === 0)
    out.unpersist()
  }

  test("corpus shard artifact round-trips and prunes to one shard at listing time") {
    import org.apache.spark.sql.functions._
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val base = java.nio.file.Files.createTempDirectory("graft-shard-art").toString
    val scope = graft.core.Scopes.create(spark, base)
    try {
      ClusterOps.saveCorpusShards(docs, scope, "shards", nShards = 4)
      // reload carries exactly the recomputed addresses
      assert(ClusterOps.corpusShardArtifactGate(spark, scope, "shards", docs)
        .count() === 0)
      // the layout is one directory per (split, shard) — what a
      // training job mounts shard-by-shard
      val dirs = new java.io.File(
          Artifact.read(spark, scope, "shards").table("rows")).listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
      assert(dirs.contains("split=train"), dirs)
      // a single-shard read is satisfied at file-listing time
      val one = Artifact.load(spark, scope, "shards", "rows")
        .filter(col("split") === "train" && col("shard") === 0)
      val scan = one.queryExecution.executedPlan.toString
      assert(scan.contains("PartitionFilters"), scan)
      assert(one.count() > 0)
    } finally graft.core.Scopes.delete(spark, scope)
  }

  test("corpusShardDigestAudit passes a faithful artifact and localizes tampering") {
    import org.apache.spark.sql.functions._
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val base = java.nio.file.Files.createTempDirectory("graft-shard-dig").toString
    val scope = graft.core.Scopes.create(spark, base)
    try {
      ClusterOps.saveCorpusShards(docs, scope, "shards", nShards = 4)
      // faithful artifact → empty audit, same verdict as the exceptAll
      // gate but from O(partitions) digest rows
      assert(ClusterOps.corpusShardDigestAudit(spark, scope, "shards", docs)
        .count() === 0)
      // tamper with exactly one shard's rows: swap two documents' pos.
      // The audit must flag ONLY that (split, shard)
      val rows = Artifact.load(spark, scope, "shards", "rows")
      val t0 = rows.filter(col("split") === "train" && col("shard") === 0)
      val two = t0.orderBy("pos").limit(2).collect()
      assert(two.length === 2)
      val (pa, pb) = (two(0).getAs[Int]("pos"), two(1).getAs[Int]("pos"))
      val tampered = t0
        .withColumn("pos", when(col("pos") === pa, pb)
          .when(col("pos") === pb, pa).otherwise(col("pos")))
        .withColumn("split", lit("train")).withColumn("shard", lit(0))
        .localCheckpoint(true)
      tampered.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("split", "shard")
        .parquet(Artifact.read(spark, scope, "shards").table("rows"))
      val bad = ClusterOps.corpusShardDigestAudit(spark, scope, "shards", docs)
        .collect()
      assert(bad.length === 1)
      assert(bad.head.getAs[String]("split") === "train")
      assert(bad.head.getAs[Int]("shard") === 0)
      // a pos swap preserves counts — the DIGEST caught it
      assert(bad.head.getAs[Long]("n_rows_artifact")
        === bad.head.getAs[Long]("n_rows_expected"))
    } finally graft.core.Scopes.delete(spark, scope)
  }

  test("flagships decontaminate against a caller-supplied benchmark") {
    import org.apache.spark.sql.functions._
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    // bring-your-own eval set: a slice DIFFERENT from the mod-10 fixture
    val bench = docs.filter(col("doc_id") % 7 === 3).select("doc_id", "text")
    val benchIds = bench.select("doc_id").collect().map(_.getLong(0)).toSet
    val v2 = ClusterOps.trainingCorpusV2(docs, benchmarkOpt = Some(bench))
      .collect()
    assert(v2.nonEmpty)
    // no benchmark member trains, and nothing that leaks its n-grams
    val leaked = graft.ops.TextOps.benchmarkContamination(
        docs.join(bench.select("doc_id"), Seq("doc_id"), "left_anti"), bench)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    v2.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(!benchIds.contains(id), s"benchmark doc $id trained")
      assert(!leaked.contains(id), s"contaminated doc $id trained")
    }
    // the default path is unchanged (oracle-pinned): same rows as ever
    val defaultV2 = ClusterOps.trainingCorpusV2(docs)
    assert(defaultV2.filter(col("doc_id") % 10 === 7).count() === 0)
    // v1 honors the parameter too
    val v1 = ClusterOps.trainingCorpus(docs, benchmarkOpt = Some(bench)).collect()
    assert(v1.nonEmpty)
    v1.foreach(r => assert(!benchIds.contains(r.getAs[Long]("doc_id"))))
  }

  test("flagship v3 applies the LM floor on top of the v2 gates") {
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val lm = graft.ops.TextOps.bigramLmScore(docs).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("n_bigrams"),
        r.getAs[Long]("score_fp")))).toMap
    // the floor bites on this fixture: some documents fall below it
    assert(lm.values.exists { case (nb, fp) => fp < 460L * nb })
    val v3 = ClusterOps.trainingCorpusV3(docs).collect()
    assert(v3.nonEmpty)
    v3.foreach { r =>
      val (nb, fp) = lm(r.getAs[Long]("doc_id"))
      assert(fp >= 460L * nb, s"doc ${r.getAs[Long]("doc_id")} below floor")
    }
    // and the v2 gates still hold (v3 is a further restriction)
    v3.foreach(r => assert(r.getAs[Long]("doc_id") % 10 !== 7L))
  }

  test("crawlCorpus composes URL dedup, page verdict, gates, and scrub") {
    import org.apache.spark.sql.functions._
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val out = ClusterOps.crawlCorpus(docs).collect()
    assert(out.nonEmpty && out.length <= 150)
    // the scrub's self-audit holds end to end: PII arrived THROUGH the
    // HTML pipeline and none survives redaction
    out.foreach(r => assert(r.getAs[Long]("n_residual") === 0L,
      s"doc ${r.getAs[Long]("doc_id")} has residual PII"))
    // every selected page cleared the crawl stages: canonical-URL
    // keep-set membership and the zero-blocked-outlink verdict
    val keep = graft.ops.HtmlOps.urlCanonicalDedup(
        graft.ops.HtmlOps.plantedDirtyUrlCorpus(docs))
      .filter(col("is_canonical"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val ok = graft.ops.HtmlOps.crawlIngest(
        graft.ops.HtmlOps.plantedHtmlCorpus(
          graft.ops.PiiOps.plantedPiiCorpus(docs)),
        baseHostCol = Some("fetch_host"))
      .filter(col("page_ok"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(keep.contains(id), s"doc $id is a URL-level duplicate")
      assert(ok.contains(id), s"doc $id links to a blocked domain")
      assert(id % 10 !== 7L, "benchmark slice trained")
    }
  }

  test("trained flagship (q185) gates on the fitted weights, same contract as q177") {
    import org.apache.spark.sql.functions._
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val out = ClusterOps.crawlCorpus(docs, trainedGate = true)
    val rows = out.collect()
    assert(rows.nonEmpty && rows.length <= 150)
    // identical output contract to the hand-set flagship
    assert(out.columns === ClusterOps.crawlCorpus(docs).columns)
    // the scrub tail still holds under the swapped gate
    rows.foreach(r => assert(r.getAs[Long]("n_residual") === 0L))
    // the gate is REALLY the trained one: every selected doc's
    // extracted text scores positive under the fitted weights
    // (recompute the crawl-doc signals independently)
    val w = graft.ops.TextOps.fitQualityWeights(docs)
    val extracted = graft.ops.HtmlOps.crawlIngest(
        graft.ops.HtmlOps.plantedHtmlCorpus(
          graft.ops.PiiOps.plantedPiiCorpus(docs)),
        baseHostCol = Some("fetch_host"))
      .select(col("doc_id"), col("text_clean").as("text"))
    val score = graft.ops.TextOps.qualityScore(extracted)
      .select(col("doc_id"), graft.ops.TextOps.fixedPointScore(w).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(score(id) > 0L, s"doc $id selected with non-positive score")
    }
  }

  test("WARC corpus (q186): malformed chunks drop at framing, the rest feed q177's chain") {
    import org.apache.spark.sql.functions._
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val out = ClusterOps.warcCorpus(docs)
    val rows = out.collect()
    assert(rows.nonEmpty && rows.length <= 150)
    assert(out.columns === ClusterOps.crawlCorpus(docs).columns)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      // no malformed-archive doc ever reaches the corpus: missing
      // response (3), length lie (7), truncated header (11) — and no
      // HTTP-gated doc either: 404 (2), text/plain (5)
      assert(!Set(2L, 3L, 5L, 7L, 11L).contains(id % 13),
        s"doc $id passed framing/HTTP gating with a bad chunk")
      assert(r.getAs[Long]("n_residual") === 0L)
    }
    // the WARC source is a strict page-level subset of the planted
    // corpus: every q186 selection survives q177's stages too (the
    // framing verdict only REMOVES pages; payloads it passes are the
    // planted pages byte-for-byte, plus the %13==1 suffix)
    val ids177 = ClusterOps.crawlCorpus(docs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val kept186 = rows.map(_.getAs[Long]("doc_id"))
      .filter(id => id % 13 != 1).toSet
    // docs whose payload is byte-identical (no suffix) and selected
    // under q186's thinner candidate pool need not all appear in
    // q177's topK (priority ranks shift), but their page verdicts
    // must agree: re-run the ingestion verdict on the framed payloads
    val framedOk = graft.ops.HtmlOps.crawlIngest(
        graft.ops.HtmlOps.httpFrame(graft.ops.HtmlOps.warcFrame(
            graft.ops.HtmlOps.plantedWarcCorpus(
              graft.ops.PiiOps.plantedPiiCorpus(docs)), "warc"))
          .filter(col("length_ok") && col("http_ok"))
          .select(col("doc_id"),
            graft.ops.HtmlOps.hostOf(col("target_uri")).as("fetch_host"),
            col("body").as("html")),
        baseHostCol = Some("fetch_host"))
      .filter(col("page_ok")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    rows.foreach(r => assert(framedOk.contains(r.getAs[Long]("doc_id"))))
    // and the non-ASCII leg is present in the candidate pool end to
    // end: at least one %13==1 doc made it through framing
    assert(framedOk.exists(_ % 13 == 1))
    assert(ids177.nonEmpty) // guard: the comparison baseline is real
    assert(kept186.nonEmpty)
  }

  test("corpus manifest rolls up the shards exactly") {
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val shards = ClusterOps.corpusShards(docs).cache()
    try {
      val manifest = ClusterOps.corpusManifest(shards).collect()
      assert(manifest.nonEmpty)
      assert(manifest.map(_.getAs[String]("split")).toSet
        .subsetOf(Set("train", "val", "test")))
      // totals reconcile with the shard table it documents
      assert(manifest.map(_.getAs[Long]("n_docs")).sum === shards.count())
      assert(manifest.map(_.getAs[Long]("sum_tokens")).sum ===
        shards.agg(org.apache.spark.sql.functions.sum("n_tokens"))
          .head().getLong(0))
    } finally shards.unpersist()
  }
}
