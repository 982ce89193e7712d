package graft

import graft.ops.SampleOps

class SampleOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs = (1L to 2000L).map(i =>
    (i, if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "fr"))
    .toDF("doc_id", "lang")

  test("sampleByHash is deterministic and partitioning-independent") {
    val a = SampleOps.sampleByHash(docs, "doc_id", 0.4)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val b = SampleOps.sampleByHash(docs.repartition(13), "doc_id", 0.4)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a === b)
    // rate is approximately honored (md5 is uniform)
    assert(math.abs(a.size / 2000.0 - 0.4) < 0.05)
  }

  test("lower-rate samples nest inside higher-rate ones (stable growth)") {
    val lo = SampleOps.sampleByHash(docs, "doc_id", 0.2)
      .select("doc_id").as[Long].collect().toSet
    val hi = SampleOps.sampleByHash(docs, "doc_id", 0.6)
      .select("doc_id").as[Long].collect().toSet
    assert(lo.subsetOf(hi))
  }

  test("salts decorrelate independent samples") {
    val dev = SampleOps.sampleByHash(docs, "doc_id", 0.3, salt = "dev")
      .select("doc_id").as[Long].collect().toSet
    val tst = SampleOps.sampleByHash(docs, "doc_id", 0.3, salt = "test")
      .select("doc_id").as[Long].collect().toSet
    assert(dev !== tst)
    // overlap ≈ rate² · N, far below either sample's size
    assert((dev & tst).size < dev.size / 2)
  }

  test("sampling two tables by the same key yields aligned rows (no join)") {
    val embeddings = (1L to 2000L).map(i => (i, Seq.fill(4)(i * 0.1f)))
      .toDF("doc_id", "embedding")
    val docIds = SampleOps.sampleByHash(docs, "doc_id", 0.35)
      .select("doc_id").as[Long].collect().toSet
    val embIds = SampleOps.sampleByHash(embeddings, "doc_id", 0.35)
      .select("doc_id").as[Long].collect().toSet
    assert(docIds === embIds) // a corpus and its embeddings stay aligned
  }

  test("temperatureSample keeps the smallest source whole and thins larger ones toward n^alpha") {
    // sources of 1500, 400, and 100 docs
    val mix = (1L to 2000L).map(i =>
      (i, if (i <= 1500) "web" else if (i <= 1900) "books" else "code"))
      .toDF("doc_id", "source")
    val out = SampleOps.temperatureSample(mix, "doc_id", "source")
    val kept = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // the smallest stratum is never thinned (rate = 1)
    assert(kept("code") === 100L)
    // larger strata approximate n·(n_min/n)^(1-alpha)
    for ((s, n) <- Seq("web" -> 1500.0, "books" -> 400.0)) {
      val expect = n * math.pow(100.0 / n, 0.3)
      assert(math.abs(kept(s) - expect) / expect < 0.15, s"$s: ${kept(s)} vs $expect")
    }
    // a NULL stratum is a stratum like any other — the null-safe rate
    // join must not silently drop those rows
    val withNull = (1L to 100L).map(i =>
      (i, if (i <= 20) null else "web")).toDF("doc_id", "source")
    val tempered = SampleOps.temperatureSample(withNull, "doc_id", "source")
    // web (80 docs) thins toward the NULL stratum's 20 at rate
    // (20/80)^0.3 ≈ 0.66; the NULL stratum itself is the minimum →
    // kept whole
    assert(tempered.filter("source IS NULL").count() === 20L)
    val web = tempered.filter("source = 'web'").count()
    assert(web > 40L && web < 80L, web)
  }

  test("prioritySample is deterministic, size-k, weight-biased, and skips w <= 0") {
    // two weight classes: heavy rows (w=100) should dominate a sample
    // of 100 from 1000+1000 rows vs light rows (w=1)
    val rows = (0L until 1000L).map(i => (i, 100L)) ++
      (1000L until 2000L).map(i => (i, 1L)) :+ (2000L, 0L) :+ (2001L, -5L)
    val df = rows.toDF("id", "w")
    val out = SampleOps.prioritySample(df, "id", "w", k = 100)
    val ids = out.select("id").collect().map(_.getLong(0))
    assert(ids.length === 100)
    assert(!ids.contains(2000L) && !ids.contains(2001L)) // non-positive w
    val heavy = ids.count(_ < 1000L)
    assert(heavy > 80, s"heavy rows underrepresented: $heavy/100")
    // same corpus + salt → identical sample, regardless of partitioning
    val again = SampleOps.prioritySample(df.repartition(13), "id", "w", k = 100)
      .select("id").collect().map(_.getLong(0))
    assert(again.sorted.toSeq === ids.sorted.toSeq)
    // a different salt draws a different (same-size) sample
    val salted = SampleOps.prioritySample(df, "id", "w", k = 100, salt = "b")
      .select("id").collect().map(_.getLong(0))
    assert(salted.sorted.toSeq !== ids.sorted.toSeq)
  }

  test("stratifiedSample applies per-stratum rates") {
    val out = SampleOps.stratifiedSample(docs, "doc_id", "lang",
      Map("en" -> 0.1, "de" -> 0.9), defaultRate = 0.5)
    val kept = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val base = 2000.0 / 3
    assert(math.abs(kept("en") / base - 0.1) < 0.06)
    assert(math.abs(kept("de") / base - 0.9) < 0.06)
    assert(math.abs(kept("fr") / base - 0.5) < 0.06)
  }

  test("domainCap keeps exactly cap per stratum, stable under partitioning and growth") {
    val out = SampleOps.domainCap(docs, "doc_id", "lang", cap = 50)
    val per = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(per.values.toSet === Set(50L))
    // scan order / partition layout is irrelevant
    val again = SampleOps.domainCap(docs.repartition(13), "doc_id", "lang", cap = 50)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(again === out.select("doc_id").as[Long].collect().sorted.toSeq)
    // a tighter budget selects a SUBSET of the looser one (hash
    // priority, not arrival order, owns the ranking)
    val tight = SampleOps.domainCap(docs, "doc_id", "lang", cap = 20)
      .select("doc_id").as[Long].collect().toSet
    assert(tight.subsetOf(out.select("doc_id").as[Long].collect().toSet))
    // a stratum smaller than the cap survives whole
    val small = docs.filter($"doc_id" <= 10)
    assert(SampleOps.domainCap(small, "doc_id", "lang", cap = 50).count() === 10)
  }

  test("domainCap composes exactly with hash pre-thinning at a retaining rate") {
    // thinning keeps every row with priority < rate; as long as each
    // stratum's cap-th winner is below it, the winners are identical —
    // the documented skew-mitigation composition
    val direct = SampleOps.domainCap(docs, "doc_id", "lang", cap = 10)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val maxWinner = SampleOps.domainCap(docs, "doc_id", "lang", cap = 10)
      .agg(org.apache.spark.sql.functions.max("priority")).head.getDouble(0)
    val thinned = SampleOps.domainCap(
      SampleOps.sampleByHash(docs, "doc_id", maxWinner + 1e-9),
      "doc_id", "lang", cap = 10)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(thinned === direct)
  }

  test("winsorize clips at exact order-statistic percentiles (percentile_disc semantics)") {
    // stratum a: values 1..200 → at P1/P99 k=ceil(.01·200)=2,
    // ceil(.99·200)=198 → lo=2, hi=198; 1 value below, 2 above;
    // clipped sum = Σ1..200 − 1 + 2 − 199 − 200 + 2·198 = 20098.
    // Stratum b: constant — nothing clips.
    val d = ((1 to 200).map(v => ("a", v.toLong)) ++
      Seq(("b", 5L), ("b", 5L), ("b", 5L))).toDF("g", "v")
    val out = SampleOps.winsorize(d, "v", "g")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(out("a") === ((2L, 198L, 1L, 2L, 20098L)))
    assert(out("b") === ((5L, 5L, 0L, 0L, 15L)))
  }

  test("winsorize histogram bound: the row-level work is agg-only, no row sort") {
    val plan = SampleOps.winsorize(
        graft.io.Tables.parquet(spark, sf, "documents"), "n_chars", "lang")
      .queryExecution.executedPlan.toString
    // no global or per-group ROW sort materializes corpus rows: the
    // only Sort nodes belong to the histogram window (value × stratum
    // sized) and the broadcast-join clamp needs none
    assert(!plan.contains("Exchange rangepartitioning"), plan)
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"), plan)
  }

  test("shuffleShards: total, deterministic, contiguous positions, salt-decorrelated, no global sort") {
    import org.apache.spark.sql.functions.col
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val n = docs.count()
    def addr(df: org.apache.spark.sql.DataFrame) = SampleOps
      .shuffleShards(df, "doc_id", 8)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    val a = addr(docs)
    // every doc exactly once, shards in range
    assert(a.size.toLong === n)
    assert(a.values.forall { case (s, _) => s >= 0 && s < 8 })
    // positions are contiguous 1..|shard| within each shard
    a.values.groupBy(_._1).foreach { case (_, addrs) =>
      val ps = addrs.map(_._2).toSeq.sorted
      assert(ps === (1 to ps.size))
    }
    // deterministic under repetition and partitioning
    assert(addr(docs) === a)
    assert(addr(docs.repartition(13)) === a)
    // its salt decorrelates it from the other hash-derived draws: the
    // split salt's hash would deal a different shard assignment
    val splitDraw = docs.select(col("doc_id"),
        org.apache.spark.sql.functions.floor(
          SampleOps.hashUnit(col("doc_id"), "split") * 8).cast("int"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a.view.mapValues(_._1).toMap !== splitDraw)
    // plan shape: one hash exchange for the shard window, no range
    // partitioning (a global sort would be the scale bug)
    val plan = SampleOps.shuffleShards(docs, "doc_id", 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange rangepartitioning"), plan)
    assert(plan.contains("Window"), plan)
  }

  test("mixtureSample honors the budget with sqrt-tempered integer quotas") {
    import org.apache.spark.sql.functions._
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val budget = 120L
    val out = SampleOps.mixtureSample(docs, "doc_id", "source", budget).cache()
    val counts = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val w = counts.view.mapValues(n => math.floor(math.sqrt(n.toDouble)).toLong).toMap
    val totalW = w.values.sum
    val quota = w.view.mapValues(wi => budget * wi / totalW).toMap
    val taken = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // exactly the integer quota per domain (every fixture domain has
    // more docs than its quota), and the total respects the budget
    quota.foreach { case (s, q) => assert(taken.getOrElse(s, 0L) === q, s) }
    assert(taken.values.sum <= budget)
    // tempered, not proportional — needs SKEW (the fixture is uniform,
    // where tempering correctly degenerates to uniform): on a 900/100/25
    // corpus the big domain's sample share must fall strictly below its
    // corpus share and the small one's rise strictly above
    val skewed = ((1L to 900L).map(i => (i, "big")) ++
      (1001L to 1100L).map(i => (i, "mid")) ++
      (2001L to 2025L).map(i => (i, "small"))).toDF("doc_id", "source")
    val sk = SampleOps.mixtureSample(skewed, "doc_id", "source", 45L)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // w = floor(sqrt(n)) = 30/10/5, W = 45, budget 45 → exact quotas
    assert(sk === Map("big" -> 30L, "mid" -> 10L, "small" -> 5L))
    assert(30.0 / 45 < 900.0 / 1025 && 5.0 / 45 > 25.0 / 1025)
    // deterministic under repetition and partitioning
    val again = SampleOps.mixtureSample(docs.repartition(13), "doc_id",
      "source", budget)
    assert(out.exceptAll(again).count() === 0)
    assert(again.exceptAll(out).count() === 0)
    // selection within a domain is by hash priority: the taken set is
    // exactly the quota-smallest priorities (nesting like domainCap)
    val priorities = docs.select(col("doc_id"), col("source"),
        SampleOps.hashUnit(col("doc_id"), "mix").as("p"))
      .collect().groupBy(_.getString(1))
    priorities.foreach { case (s, rows) =>
      val expected = rows.sortBy(r => (r.getDouble(2), r.getLong(0)))
        .take(quota(s).toInt).map(_.getLong(0)).toSet
      val got = out.filter(col("source") === s)
        .collect().map(_.getLong(0)).toSet
      assert(got === expected, s)
    }
    out.unpersist()
  }

  test("costBudgetMixture fills each domain's cost quota greedily by priority") {
    import org.apache.spark.sql.functions._
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val budget = 50000L
    val out = SampleOps.costBudgetMixture(docs, "doc_id", "source",
      "n_chars", budget).cache()
    // replay the quota arithmetic
    val mass = docs.groupBy("source").agg(sum("n_chars").cast("long").as("m"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val w = mass.view.mapValues(m => math.floor(math.sqrt(m.toDouble)).toLong).toMap
    val totalW = w.values.sum
    val quota = w.view.mapValues(wi => budget * wi / totalW).toMap
    val taken = out.groupBy("source")
      .agg(sum("n_chars").cast("long").as("c"), max("n_chars").cast("long").as("mx"),
        count(lit(1)).as("k"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    taken.foreach { case (s, (c, mx, _)) =>
      // greedy fill: consumed cost reaches the quota, overshooting by
      // less than the last admitted document
      assert(c >= quota(s), s)
      assert(c - mx < quota(s), s)
    }
    // within a domain the admitted set is a PREFIX of priority order
    val ordered = docs.select(col("doc_id"), col("source"),
        SampleOps.hashUnit(col("doc_id"), "mix").as("p"))
      .collect().groupBy(_.getString(1))
    val admitted = out.collect().map(_.getLong(0)).toSet
    ordered.foreach { case (s, rows) =>
      val ranked = rows.sortBy(r => (r.getDouble(2), r.getLong(0))).map(_.getLong(0))
      val k = taken(s)._3.toInt
      assert(ranked.take(k).toSet === ranked.filter(admitted).take(k).toSet, s)
      assert(ranked.drop(k).forall(id => !admitted(id)), s)
    }
    // deterministic under partitioning
    val again = SampleOps.costBudgetMixture(docs.repartition(13), "doc_id",
      "source", "n_chars", budget)
    assert(out.exceptAll(again).count() === 0)
    assert(again.exceptAll(out).count() === 0)
    out.unpersist()
  }

  test("costBudgetMixtureThinned is bit-equal to the unthinned fill; too-aggressive rates throw") {
    import org.apache.spark.sql.functions._
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val budget = 50000L
    val full = SampleOps.costBudgetMixture(docs, "doc_id", "source",
      "n_chars", budget).cache()
    // the executed contract of the scaladoc proof: same rows, bit for bit
    val thinned = SampleOps.costBudgetMixtureThinned(docs, "doc_id", "source",
      "n_chars", budget, thinRate = 0.7)
    assert(full.exceptAll(thinned).count() === 0)
    assert(thinned.exceptAll(full).count() === 0)
    // the thin really thins: every admitted priority sits under the rate
    assert(thinned.agg(max("priority")).collect().head.getDouble(0) < 0.7)
    // a rate that cannot witness every domain's cutoff must THROW (a
    // silently smaller corpus is the failure mode the audit exists for)
    val ex = intercept[graft.core.GraftException] {
      SampleOps.costBudgetMixtureThinned(docs, "doc_id", "source",
        "n_chars", budget, thinRate = 1e-6)
    }
    assert(ex.getMessage.contains("thinRate"))
    // whole-domain retention is safe even when the quota is unfilled:
    // tiny corpus, huge budget → no rejection witnessed anywhere, but
    // nThin == nFull for every domain, so the result must still match
    val tiny = (1L to 20L).map(i => (i, if (i % 2 == 0) "a" else "b", 10L))
      .toDF("doc_id", "source", "n_chars")
    val fullTiny = SampleOps.costBudgetMixture(tiny, "doc_id", "source",
      "n_chars", 100000L)
    val thinTiny = SampleOps.costBudgetMixtureThinned(tiny, "doc_id", "source",
      "n_chars", 100000L, thinRate = 1.0)
    assert(fullTiny.exceptAll(thinTiny).count() === 0)
    assert(thinTiny.exceptAll(fullTiny).count() === 0)
    full.unpersist()
  }

  test("costBudgetMixtureThinned plans the thin below the admission window") {
    import org.apache.spark.sql.functions._
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    // the pre-thin must reach the scan side of the window exchange so
    // the exchange carries ~thinRate of the corpus; the operator result
    // is a checkpoint scan, so assert on the factored internal plan
    val plan = SampleOps.thinnedAdmissionPlan(docs, "doc_id", "source",
      "n_chars", 0.7, "mix", Array(("web", 100L, 10L)))
      .queryExecution.executedPlan.toString
    val winIdx = plan.indexOf("Window")
    val filterIdx = plan.indexOf("conv(substring(md5")
    assert(winIdx >= 0, plan)
    // plans print top-down: the thin filter must appear BELOW (after)
    // the Window operator, i.e. on its input side
    assert(filterIdx > winIdx,
      s"thin filter must sit below the window exchange:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"), plan)
  }
}
