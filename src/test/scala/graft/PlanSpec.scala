package graft

import graft.io.Tables
import graft.ops.{Relational, SimilarityOps}

/** Physical-plan assertions — the scale contract, checked, not hoped
  * for: filters reach the parquet scan, projections prune columns,
  * dimension joins broadcast, top-k avoids a global sort, and the
  * similarity inner loop runs as the native codegen'd expression.
  */
class PlanSpec extends SparkSpec {

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q02: predicate + projection are pushed into the parquet scan") {
    val plan = planOf(Relational.filterProject(Tables.parquet(spark, sf, "lineitem")))
    assert(plan.contains("PushedFilters: ["), plan)
    assert(plan.contains("IsNotNull(l_shipdate)"), plan)
    // column pruning: the 16-col table is read with only the needed cols
    assert(!plan.contains("l_tax"), plan)
  }

  test("q05: dimension joins are broadcast, no sort-merge join") {
    val plan = planOf(Relational.starJoin(
      Tables.parquet(spark, sf, "orders"), Tables.parquet(spark, sf, "customer"),
      Tables.parquet(spark, sf, "nation"), Tables.parquet(spark, sf, "region")))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q07: top-k plans as TakeOrderedAndProject (no global sort)") {
    val plan = planOf(Relational.topKCustomers(
      Tables.parquet(spark, sf, "orders"), Tables.parquet(spark, sf, "customer")))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q01: grouped mean is a partial+final hash agg with one exchange") {
    val df = graft.ops.MapReduceOps.unpivotGroupedMean(
      Tables.parquet(spark, sf, "lineitem")
        .selectExpr("cast(l_linenumber as bigint) as c0", "l_orderkey % 7 as c1"),
      Seq("c0", "c1"))
    val plan = planOf(df)
    assert(plan.contains("HashAggregate"), plan)
    assert("Exchange".r.findAllIn(plan).size === 1, plan)
  }

  test("q16: similarity scoring uses the native vec_dot expression in codegen") {
    val df = SimilarityOps.bruteForceKnn(Tables.parquet(spark, sf, "embeddings"))
    assert(planOf(df).contains("vec_dot"), planOf(df))
    // top-k is already partial+final (WindowGroupLimit), no global sort
    assert(planOf(df).contains("WindowGroupLimit"), planOf(df))
    df.collect() // finalize THIS plan's adaptive execution, then check codegen
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.contains("codegen id"), formatted)
  }

  test("q17: closest pairs is a block equi-join, not a nested loop") {
    val plan = planOf(SimilarityOps.closestPairs(Tables.parquet(spark, sf, "embeddings")))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q28: LSH candidate generation broadcasts only the query probes") {
    val plan = planOf(SimilarityOps.lshKnn(Tables.parquet(spark, sf, "embeddings")))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan) // tiny probe side only
  }

  test("q52: hash sampling is a pure per-row filter — no exchange, no agg") {
    val plan = planOf(graft.ops.SampleOps.stratifiedSample(
      Tables.parquet(spark, sf, "documents"), "doc_id", "lang",
      Map("en" -> 0.5), defaultRate = 0.9))
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Aggregate"), plan)
    assert(plan.contains("Filter"), plan)
  }

  test("q28: probe-side query filter reaches the scan under the plane projection") {
    // probes are a FILTER over the same code projection as the corpus
    // side; the vec_id predicate must be pushed below the projection to
    // the parquet scan, so the probe branch decodes nQueries rows — not
    // the corpus — through the plane expression
    val plan = planOf(SimilarityOps.lshKnn(Tables.parquet(spark, sf, "embeddings")))
    assert(plan.contains("LessThan(vec_id,5)"), plan.take(3000))
  }

  test("q15: jaccard plan carries no broadcast hint on per-document data") {
    val df = graft.ops.DedupOps.jaccardPairs(Tables.parquet(spark, sf, "documents"))
    // the scale guarantee is that WE never force a broadcast of an
    // unbounded per-document relation — AQE stays free to pick one at
    // tiny test scale, so assert on the analyzed plan's hints
    val analyzed = df.queryExecution.analyzed.toString
    assert(!analyzed.contains("ResolvedHint"), analyzed)
    assert(!analyzed.toLowerCase.contains("broadcast"), analyzed)
  }

  test("q44: approx-percentile sketch stays inside its exact rank window") {
    val gate = Relational.approxPercentileGate(Tables.parquet(spark, sf, "lineitem"))
    assert(gate.columns.toSeq === Seq("l_returnflag", "p50_approx", "lo", "hi"))
    assert(gate.isEmpty) // the q44 oracle contract: no violations
  }

  test("q31: correlated scalar subquery is decorrelated into a join") {
    val plan = planOf(Relational.sqlMaxOrderPerCustomer(Tables.parquet(spark, sf, "orders")))
    assert(!plan.toLowerCase.contains("scalar-subquery"), plan)
    assert(plan.contains("Join") || plan.contains("BroadcastHashJoin"), plan)
  }

  test("q68: contamination is a broadcast semi-join, never a cartesian expansion") {
    val d = Tables.parquet(spark, sf, "documents")
    val df = graft.ops.TextOps.benchmarkContamination(
      d.filter(org.apache.spark.sql.functions.col("doc_id") % 10 =!= 7),
      d.filter(org.apache.spark.sql.functions.col("doc_id") % 10 === 7))
    // the broadcast decision is AQE's (made from the measured benchmark
    // size) — run THIS frame's job (count() would plan separately),
    // then read the FINAL adaptive plan
    df.collect()
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"), plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q77: chunking is shuffle-free — the explode is the only expansion") {
    val plan = planOf(graft.ops.TextOps.chunkDocuments(
      Tables.parquet(spark, sf, "documents")))
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("Generate"), plan)
  }

  test("q70: packing is exactly one hash exchange on the stream key") {
    val plan = planOf(graft.ops.TextOps.packSequences(
      Tables.parquet(spark, sf, "documents")))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1, plan)
    assert(plan.contains("Window"), plan)
  }

  test("q78: the reloaded IVF probe prunes the artifact scan to the probed cells") {
    val emb = Tables.parquet(spark, sf, "embeddings")
    val base = java.nio.file.Files.createTempDirectory("graft-ivf-plan-")
    try {
      val scope = graft.core.Scopes.create(spark, base.toString)
      SimilarityOps.saveIvfIndex(SimilarityOps.buildIvfIndex(emb), scope, "ivf")
      val loaded = SimilarityOps.loadIvfIndex(spark, scope, "ivf")
      // one query × 8 probes → at most 8 of the 16 cell directories read
      val df = SimilarityOps.probeIvfPruned(loaded,
        emb.filter(org.apache.spark.sql.functions.col("vec_id") === 0L))
      df.collect()
      val plan = planOf(df)
      // static pruning: the literal cell IN (...) reaches the scan's
      // PARTITION filters (listing-time pruning), not just data filters
      assert("PartitionFilters: \\[[^\\]]*cell[^\\]]*IN".r
        .findFirstIn(plan).isDefined, plan)
      // and the scan actually read at most the probed partitions.
      // AQE hides materialized stages behind leaf QueryStageExec /
      // ReusedExchangeExec nodes, so recurse through them by hand.
      def scans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          scans(r.child)
        case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
        case other => other.children.flatMap(scans)
      }
      val assignedScan = scans(df.queryExecution.executedPlan)
        .find(_.output.exists(_.name == "cell"))
      assert(assignedScan.isDefined, plan)
      assert(assignedScan.get.metrics("numPartitions").value <= 8,
        assignedScan.get.metrics("numPartitions").value.toString)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("q120: the reloaded postings probe prunes the artifact scan to the query-term buckets") {
    val docs = Tables.parquet(spark, sf, "documents")
    val base = java.nio.file.Files.createTempDirectory("graft-postings-plan-")
    try {
      val scope = graft.core.Scopes.create(spark, base.toString)
      graft.ops.TextOps.savePostings(docs, scope, "postings")
      val loaded = graft.ops.TextOps.loadPostings(spark, scope, "postings")
      val queries = Map("qa" -> Seq("table", "scan"), "qb" -> Seq("window"))
      val df = graft.ops.TextOps.searchPostings(loaded, queries)
      df.collect()
      val plan = planOf(df)
      // the literal bucket IN (...) reaches the scan's PARTITION
      // filters — directory pruning, like q78's cells / q90's types
      assert("PartitionFilters: \\[[^\\]]*bucket[^\\]]*IN".r
        .findFirstIn(plan).isDefined, plan)
      def scans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          scans(r.child)
        case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
        case other => other.children.flatMap(scans)
      }
      val postingsScan = scans(df.queryExecution.executedPlan)
        .find(_.output.exists(_.name == "bucket"))
      assert(postingsScan.isDefined, plan)
      // 3 distinct terms → at most 3 of the 64 bucket directories read
      assert(postingsScan.get.metrics("numPartitions").value <= 3,
        postingsScan.get.metrics("numPartitions").value.toString)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("q136: the reloaded IVF-PQ probe prunes the cells scan to the probed cells") {
    val emb = Tables.parquet(spark, sf, "embeddings")
    val base = java.nio.file.Files.createTempDirectory("graft-ivfpq-plan-")
    try {
      val scope = graft.core.Scopes.create(spark, base.toString)
      SimilarityOps.saveIvfPqIndex(SimilarityOps.buildIvfPqIndex(emb),
        scope, "ivfpq")
      val loaded = SimilarityOps.loadIvfPqIndex(spark, scope, "ivfpq")
      // one query × 8 probes → at most 8 of the 16 cell directories read
      val df = SimilarityOps.probeIvfPq(loaded,
        emb.filter(org.apache.spark.sql.functions.col("vec_id") === 0L))
      df.collect()
      val plan = planOf(df)
      // the literal cell IN (...) reaches the artifact scan's PARTITION
      // filters — listing-time pruning, the q78 contract compounded
      assert("PartitionFilters: \\[[^\\]]*cell[^\\]]*".r
        .findFirstIn(plan).isDefined, plan)
      def scans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          scans(r.child)
        case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
        case other => other.children.flatMap(scans)
      }
      val cellsScan = scans(df.queryExecution.executedPlan)
        .find(_.output.exists(_.name == "codes"))
      assert(cellsScan.isDefined, plan)
      assert(cellsScan.get.metrics("numPartitions").value <= 8,
        cellsScan.get.metrics("numPartitions").value.toString)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("q84: bucketed join reads pre-shuffled inputs — the only exchange is the final agg") {
    val df = SparkEntry.queries("q84_bucketed_join")(spark, sf)
    val plan = planOf(df)
    assert(plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("Bucketed: true"), plan)
    // neither join input is re-shuffled (the write paid that); the one
    // hash exchange is the 5-row segment aggregate after the join
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1, plan)
    assert(!plan.contains("Exchange hashpartitioning(o_custkey"), plan)
    assert(!plan.contains("Exchange hashpartitioning(c_custkey"), plan)
  }

  test("q94: weighted priority sampling plans as TakeOrderedAndProject, no global sort") {
    val plan = planOf(SparkEntry.queries("q94_priority_sample")(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange rangepartitioning"), plan)
  }

  test("q90: the partition predicate is satisfied at file-listing time, not per row") {
    val df = SparkEntry.queries("q90_partitioned_scan")(spark, sf)
    val plan = planOf(df)
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"), plan)
    // no residual data filter on the partition column
    assert(!plan.contains("PushedFilters: [IsNotNull(event_type)"), plan)
  }

  test("q76: temperature mixing shuffles only the tiny count aggregate, never the corpus") {
    val plan = planOf(graft.ops.SampleOps.temperatureSample(
      Tables.parquet(spark, sf, "documents"), "doc_id", "source"))
    // the corpus side joins the broadcast rates; the only hash
    // exchanges belong to the per-stratum count aggregation
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q101: domain cap ships map-side partial top-k — shuffle bounded by cap, not stratum") {
    val plan = planOf(SparkEntry.queries("q101_domain_cap")(spark, sf))
    // rank<=cap commutes with partial top-k: one WindowGroupLimit on
    // each side of the single stratum exchange, and no global sort
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 2, plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1, plan)
    assert(!plan.contains("Exchange rangepartitioning"), plan)
  }

  test("q144: mixture quotas broadcast onto a map-side-limited rank — no global sort") {
    val plan = planOf(SparkEntry.queries("q144_mixture_sample")(spark, sf))
    // the constant max-quota filter plants the q101 partial top-k on
    // both sides of the one domain exchange; the per-domain quota trim
    // rides a broadcast join, never a second shuffle of the corpus
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 2, plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange rangepartitioning"), plan)
  }

  test("q102: vocabulary's window runs single-partition over vocab-sized data only") {
    val plan = planOf(SparkEntry.queries("q102_vocab")(spark, sf))
    // corpus-sized work is the partially-aggregated token count; the
    // rank/coverage windows sit above Exchange SinglePartition, which
    // receives one row per DISTINCT token
    assert(plan.contains("partial_count"), plan)
    assert(plan.contains("Exchange SinglePartition"), plan)
    assert(!plan.contains("Exchange rangepartitioning"), plan)
  }

  test("q155: span dedup exchanges carry fingerprints, never text") {
    val plan = planOf(SparkEntry.queries("q155_span_dedup")(spark, sf))
    // both exchanges (keep decision by span_md5, roll-up by doc_id)
    // ship narrow fingerprint rows; the text column dies at the scan
    val exchanges = plan.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(exchanges.nonEmpty, plan)
    assert(exchanges.exists(_.contains("span_md5")), plan)
    assert(!exchanges.exists(_.contains("text")), plan)
    assert(!plan.contains("Exchange rangepartitioning"), plan)
  }

  test("q156: the pruned LM broadcasts; the corpus never shuffles before scoring") {
    val plan = planOf(SparkEntry.queries("q156_bigram_lm")(spark, sf))
    // both model joins are broadcast (the model tables are LIMIT-bounded)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // the only corpus-sized exchange is the final per-doc partial agg
    assert(plan.contains("partial_count"), plan)
  }

  test("q157: fertility profile is one scan + domain agg — no join at all") {
    val plan = planOf(SparkEntry.queries("q157_bpe_fertility")(spark, sf))
    // word/char counters ride the encode mapPartitions; `source` rides
    // the planted projection — nothing left to join
    assert(!plan.contains("Join"), plan)
    // and the only exchange is the domain-keyed aggregation
    assert(plan.contains("partial_count"), plan)
  }

  test("q166/q167: the PII scrub is a pure projection — zero exchanges") {
    Seq("q166_pii_detect", "q167_pii_redact").foreach { q =>
      val plan = planOf(SparkEntry.queries(q)(spark, sf))
      assert(!plan.contains("Exchange"), s"$q: $plan")
      assert(!plan.contains("Join"), s"$q: $plan")
    }
  }

  test("q223: the lastmod wave prunes the fetch-log scan to the sitemap canons' buckets") {
    val df = SparkEntry.queries("q223_sitemap_refetch")(spark, sf)
    df.collect() // finalize the adaptive plan
    val plan = planOf(df)
    // the declared canons' bucket set reaches the artifact scan as a
    // PARTITION filter (the appendFetchLog touched-bucket
    // discipline) — the wave lists stale directories, never the log
    assert("PartitionFilters: \\[[^\\]]*bucket[^\\]]*IN".r
      .findFirstIn(plan).isDefined, plan)
    // and the sitemap side broadcasts — no corpus-sized exchange
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q187: the stored key set joins exchange-free — bucketing reaches the planner") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.parquet(spark, sf, "documents")
    val base = java.nio.file.Files.createTempDirectory("graft-bucketed-keys-")
    try {
      val scope = graft.core.Scopes.create(spark, base.toString)
      graft.ops.HtmlOps.saveUrlKeys(
        graft.ops.HtmlOps.plantedDirtyUrlCorpus(docs), scope, "keys")
      // kill the tiny-scale broadcast so the plan under test is the
      // one a 100 TB key set gets: a sort-merge anti-join where the
      // stored side reads its bucketed layout and ONLY the wave-sized
      // candidate side shuffles
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val cands = graft.ops.HtmlOps.plantedDirtyUrlCorpus(docs)
          .select(graft.ops.HtmlOps.canonicalUrl(col("url")).as("canon"))
        val fresh = cands.join(
          graft.ops.HtmlOps.loadUrlKeys(spark, scope, "keys")
            .select("canon"), Seq("canon"), "left_anti")
        fresh.collect() // finalize the adaptive plan
        // the AQE toString appends the pre-execution Initial Plan;
        // assert on the FINAL plan section only
        val plan = planOf(fresh).split("== Initial Plan ==").head
        assert("SortMergeJoin .*LeftAnti".r.findFirstIn(plan).isDefined, plan)
        // the stored side reads its bucket layout (the scan reports
        // bucket selection) and contributes NO exchange: the only one
        // in the whole join is the wave-sized candidate side's (the
        // round-11 stored-set reshuffle regression this pins)
        assert(plan.contains("Bucketed: true"), plan)
        assert(plan.contains("SelectedBucketsCount"), plan)
        assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1,
          plan)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("q200: the fetch-log upsert merge is exchange-free on the stored side") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.parquet(spark, sf, "documents")
    val base = java.nio.file.Files.createTempDirectory("graft-bucketed-flog-")
    try {
      val scope = graft.core.Scopes.create(spark, base.toString)
      graft.ops.HtmlOps.saveFetchLog(
        graft.ops.HtmlOps.plantedFetchLog(docs)
          .select("url", "fetched_at_s"), scope, "fl")
      // same setup as q187: kill the tiny-scale broadcast so the plan
      // is the 100 TB one — a sort-merge FULL OUTER join where the
      // stored log reads its bucketed layout and only the O(batch)
      // pre-reduced side shuffles
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        import spark.implicits._
        val batchLatest = Seq(("//w1.s1.example/p/1",
          "https://w1.s1.example/p/1", 1767225600L + 999L * 3600L, "", ""))
          .toDF("canon", "url", "last_fetch_s", "etag", "last_modified")
        val merged = graft.ops.HtmlOps.fetchLogMerge(
          graft.ops.HtmlOps.loadFetchLog(spark, scope, "fl")
            .filter(col("bucket").isin(0 to 63: _*)), // touched-bucket shape
          batchLatest)
        merged.collect() // finalize the adaptive plan
        val plan = planOf(merged).split("== Initial Plan ==").head
        assert("SortMergeJoin .*FullOuter".r.findFirstIn(plan).isDefined, plan)
        assert(plan.contains("Bucketed: true"), plan)
        assert(plan.contains("SelectedBucketsCount"), plan)
        // exactly ONE exchange in the whole merge — the batch side's.
        // The stored log never moves again (the round-12 audit's #1:
        // the groupBy form reshuffled the touched buckets' contents)
        assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1,
          plan)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("q200: the refetch due-scan prunes fresh day partitions at listing time") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.parquet(spark, sf, "documents")
    val base = java.nio.file.Files.createTempDirectory("graft-flog-prune-")
    try {
      val scope = graft.core.Scopes.create(spark, base.toString)
      graft.ops.HtmlOps.saveFetchLog(
        graft.ops.HtmlOps.plantedFetchLog(docs)
          .select("url", "fetched_at_s"), scope, "fl")
      // planted fetches span 2026-01-01 + [0, 96h] (+48h refetch legs)
      // = fetch days over a multi-day range; a TTL that leaves only
      // the oldest days due must scan only those partitions
      val now = 1767225600L + 6L * 86400L
      val wave = graft.ops.HtmlOps.refetchWaveFromLog(spark, scope, "fl",
        nowS = now, ttlS = 4L * 86400L, ranks = emptyRanks)
      wave.collect()
      val plan = planOf(wave)
      // the staleness predicate reaches the scan as a PARTITION
      // filter (the round-12 audit's #2: the canon-bucket layout
      // alone gave the scan nothing to prune staleness with)
      val pf = plan.linesIterator
        .filter(_.contains("PartitionFilters")).mkString("\n")
      assert(pf.contains("fetch_day"), plan)
      // and the exact row filter agrees with the raw-log semantics
      // (both waves under the same per-domain cap and slot order)
      val fromRaw = graft.ops.HtmlOps.refetchWave(
        graft.ops.HtmlOps.plantedFetchLog(docs), now, 4L * 86400L,
        emptyRanks)
      assert(wave.exceptAll(fromRaw).isEmpty && fromRaw.exceptAll(wave).isEmpty)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  private def emptyRanks: org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    Seq.empty[(String, Long)].toDF("domain", "pr")
  }

  test("duplicate-frame audit: no wire-decode subtree is evaluated twice in any frame-heavy plan") {
    // the fast in-suite lock on the round-14 regression signature —
    // the full-registry sweep lives in graft.tools.PlanAudit (wired
    // into the PLANS.md regeneration, which FAILS on any hit); this
    // leg pins the frame-heaviest query classes on every test run
    val frameHeavy = Seq("q184_warc_ingest", "q186_warc_corpus",
      "q204_fetch_funnel", "q205_redirect_frontier", "q206_gzip_warc",
      "q211_retry_frontier", "q212_content_encoding",
      "q213_conditional_refetch", "q217_body_length_check",
      "q218_warc_revisit")
    frameHeavy.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect() // finalize the adaptive plan
      val dups = graft.tools.PlanAudit
        .duplicateFrameSubtrees(df.queryExecution.executedPlan)
      assert(dups.isEmpty, s"$name re-evaluates a frame subtree: $dups")
    }
  }

  test("q169: the flagship scrub joins the broadcast topK selection — regex after the join") {
    val df = SparkEntry.queries("q169_redacted_corpus")(spark, sf)
    df.collect() // finalize the adaptive plan (the PlanAudit convention)
    val plan = planOf(df)
    // the scrub is computed ABOVE the top join (parents print before
    // children), so only selected rows pay the regex; the top join is
    // a BroadcastHashJoin whose build side is the 150-row
    // TakeOrderedAndProject selection. (The selection subtree below
    // has its own join shapes — asserted by the flagship tests, not
    // here.)
    val scrubIdx = plan.indexOf("[EMAIL]")
    val joinIdx = plan.indexOf("BroadcastHashJoin")
    val topKIdx = plan.indexOf("TakeOrderedAndProject")
    assert(scrubIdx >= 0 && joinIdx >= 0 && topKIdx >= 0, plan)
    assert(scrubIdx < joinIdx, plan)
    assert(joinIdx < topKIdx, plan)
  }
}
