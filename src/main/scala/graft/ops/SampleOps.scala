package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic corpus sampling — the mix-control primitive of a
  * training-data pipeline (downsample overrepresented sources, carve
  * held-out splits, cut a fixed-rate dev corpus).
  *
  * Rows are kept when a uniform hash of their KEY falls below the
  * rate: no RNG state, so the sample is (a) reproducible across runs,
  * engines, and partitionings — unlike `DataFrame.sample`, whose
  * output depends on partition layout; (b) stable under corpus growth
  * (a document's fate depends only on its own key, so yesterday's
  * sample is a subset of today's at the same rate); (c) consistent
  * across tables — sampling two tables by the same join key yields
  * aligned rows, which is how you sample a corpus and its embeddings
  * together without a join. Evaluation is a pure per-row expression:
  * no shuffle, fully pushed into the scan stage.
  */
object SampleOps {

  /** Uniform in [0, 1): the first 32 bits of md5(key ":" salt) over
    * 2^32. The division is by a power of two, hence exact in double —
    * any engine that can md5 reproduces the value bit-for-bit (the
    * DuckDB oracle of q52 does).
    */
  def hashUnit(key: Column, salt: String = ""): Column =
    conv(substring(md5(concat(key.cast("string"), lit(":" + salt))), 1, 8),
      16, 10).cast("bigint").cast("double") / lit(4294967296.0)

  /** Keep rows whose key hashes under `rate`. `salt` decorrelates
    * independent samples over the same corpus (a dev split at salt
    * "dev" does not bias a holdout at salt "test").
    */
  def sampleByHash(df: DataFrame, keyCol: String, rate: Double,
                   salt: String = ""): DataFrame = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1]: $rate")
    df.filter(hashUnit(col(keyCol), salt) < rate)
  }

  /** Per-stratum rates (e.g. by language or source): strata listed in
    * `rates` keep that fraction, everything else keeps `defaultRate`.
    * The rate lookup folds into a CASE expression — still a pure
    * per-row filter, no join, no shuffle.
    */
  /** Q76: TEMPERATURE-SCALED source mixing — downsample-only
    * rebalancing toward a `n^alpha` target mix at alpha = 0.7 (alpha =
    * 1 would keep the natural distribution, alpha = 0 equalize
    * sources): each stratum's keep-rate is `(n_min / n_s)^(1 - alpha)`,
    * so the
    * smallest source keeps everything and larger sources are
    * deterministically hash-thinned toward the tempered proportions —
    * the standard mixing-weights step of a pretraining pipeline.
    *
    * Plan shape: ONE partial-aggregated count per stratum (tiny) —
    * n_min rides on the same aggregate as a global window min over
    * the per-stratum rows (bounded by stratum cardinality, so the
    * single-partition window is a few rows, never corpus data) — a
    * broadcast join of the per-stratum rate back onto the corpus, and
    * the same pure per-row hash filter as [[sampleByHash]]. The
    * corpus is scanned exactly twice (count + filter), with no
    * corpus-sized shuffle at any scale.
    */
  def temperatureSample(df: DataFrame, keyCol: String, stratumCol: String,
                        salt: String = ""): DataFrame = {
    val alpha = 0.7
    val counts = df.groupBy(stratumCol).agg(count(lit(1)).as("n_s"))
    val rates = counts
      .withColumn("n_min", min("n_s").over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .select(col(stratumCol).as("_stratum"),
        pow(col("n_min").cast("double") / col("n_s"), 1.0 - alpha).as("rate"))
    // null-SAFE join: a NULL stratum is a stratum like any other (it
    // was counted above) — a plain equi-join would silently drop every
    // NULL-stratum row
    df.join(broadcast(rates), col(stratumCol) <=> col("_stratum"))
      .filter(hashUnit(col(keyCol), salt) < col("rate"))
      .drop("_stratum", "rate")
  }

  /** Q94: WEIGHTED priority sampling (Duffield, Lund, Thorup, JACM'07):
    * each row draws priority u/w — u the exact-parity hash-uniform, w
    * its weight — and the k SMALLEST priorities form the sample, so
    * inclusion probability grows with weight while the whole draw stays
    * deterministic and reproducible (same corpus + salt → same sample,
    * on any engine that can md5). The top-k plans as
    * TakeOrderedAndProject: per-partition size-k heaps merged on the
    * driver — no global sort, no corpus shuffle, the same scale shape
    * as q07. Non-positive weights are excluded (they cannot be
    * meaningfully prioritized).
    */
  def prioritySample(df: DataFrame, keyCol: String, weightCol: String,
                     k: Int, salt: String = ""): DataFrame = {
    require(k > 0, s"sample size must be positive: $k")
    df.filter(col(weightCol) > 0)
      .withColumn("priority",
        hashUnit(col(keyCol), salt) / col(weightCol).cast("double"))
      .orderBy(col("priority").asc, col(keyCol).asc)
      .limit(k)
  }

  def stratifiedSample(df: DataFrame, keyCol: String, stratumCol: String,
                       rates: Map[String, Double], defaultRate: Double = 1.0): DataFrame = {
    (rates.values.toSeq :+ defaultRate).foreach(r =>
      require(r >= 0.0 && r <= 1.0, s"rate must be in [0,1]: $r"))
    // sorted for a deterministic expression tree (Map order isn't)
    val rateExpr = rates.toSeq.sortBy(_._1).foldLeft(lit(defaultRate)) {
      case (acc, (k, r)) => when(col(stratumCol) === k, lit(r)).otherwise(acc)
    }
    df.filter(hashUnit(col(keyCol)) < rateExpr)
  }

  /** Q101: PER-DOMAIN CAP — at most `cap` documents per stratum
    * (source / domain / site), chosen by smallest deterministic hash
    * priority. This is the anti-monoculture budget of a web-scale
    * pipeline (Common-Crawl-style per-domain limits): without it the
    * handful of giant domains dominate the corpus no matter how the
    * global mix is tuned. Hash priority — not "first N" — makes the
    * kept set independent of scan order and stable under corpus
    * growth (a kept document stays kept until `cap` strictly smaller
    * hashes exist in its domain).
    *
    * Plan shape: Catalyst plants a MAP-SIDE WindowGroupLimit under
    * the exchange (rank <= cap commutes with partial top-k), so each
    * scan partition ships at most `cap` rows per stratum it touches —
    * shuffle volume is bounded by cap × partitions per stratum, not
    * stratum size, and the reduce side ranks those survivors only
    * (PlanSpec-asserted: two WindowGroupLimits bracketing the one
    * exchange, no global sort). Residual skew would need one domain
    * spread over very many map partitions; for that regime, pre-thin
    * with [[sampleByHash]] at any rate that provably retains the cap
    * quantile (the composition stays exact because both stages rank
    * by the SAME hash priority: thinning at rate r keeps precisely
    * every row with priority < r, a superset of the final winners
    * whenever the stratum's cap-th smallest priority is below r).
    */
  def domainCap(df: DataFrame, keyCol: String, stratumCol: String,
                cap: Int, salt: String = ""): DataFrame = {
    require(cap > 0, s"cap must be positive: $cap")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol))
      .orderBy(col("priority").asc, col(keyCol).asc)
    df.withColumn("priority", hashUnit(col(keyCol), salt))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= cap)
      .drop("rk")
  }

  /** Q123: EXACT per-stratum WINSORIZATION — robust clipping of an
    * integer feature (length, token count, score) at the exact 1st and
    * 99th order-statistic percentiles, the outlier-taming step before a feature
    * feeds a mix weight or a quality model (one 10^9-char document
    * must not own the length budget of its language).
    *
    * The k-th order statistic (k = ceil(p·n), percentile_disc
    * semantics) is found WITHOUT sorting rows: the corpus-sized work
    * is one partially-aggregated count per (stratum, value) — the
    * VALUE HISTOGRAM — and the percentile is read off its running sum,
    * window-bounded by distinct values × strata, never corpus rows
    * (the q102 bound). Thresholds (strata-sized) broadcast back onto
    * the scan for a pure per-row clamp. Everything is integer
    * arithmetic — ceil as (a+b-1) div b — so any engine reproduces the
    * thresholds and sums bit-for-bit; no sampled sketch
    * (approx_percentile) enters the result.
    */
  def winsorize(df: DataFrame, valueCol: String, stratumCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol)).orderBy(col(valueCol).asc)
    val hist = df.groupBy(col(stratumCol), col(valueCol))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(w))
      .withColumn("n", sum("cnt").over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(stratumCol))))
    def kth(pct: Int) = // ceil(pct·n / 100) in integers
      expr(s"CAST((n * $pct + 99) DIV 100 AS BIGINT)")
    val thresholds = hist
      .groupBy(col(stratumCol))
      .agg(
        min(when(col("cum") >= kth(1), col(valueCol))).as("lo"),
        min(when(col("cum") >= kth(99), col(valueCol))).as("hi"))
    df.join(broadcast(thresholds), stratumCol)
      .withColumn("clipped",
        greatest(least(col(valueCol), col("hi")), col("lo")))
      .groupBy(col(stratumCol))
      .agg(
        min("lo").as("lo"), min("hi").as("hi"),
        sum((col(valueCol) < col("lo")).cast("long")).as("n_below"),
        sum((col(valueCol) > col("hi")).cast("long")).as("n_above"),
        sum(col("clipped").cast("long")).as("sum_clipped"))
  }

  /** Q140: DETERMINISTIC CORPUS SHUFFLE-SHARDING — the last step
    * before training: every document gets a (shard, pos) address in a
    * pseudo-random global order, derived purely from [[hashUnit]] of
    * its key, so the shuffle is reproducible cross-engine (the oracle
    * replays it), stable under re-runs, and independent of input
    * partitioning — none of which `ORDER BY rand()` gives. One hash
    * shuffle on the shard id; the per-shard `pos` window is sequential
    * WITHIN a shard, which is exactly the parallelism grain training
    * consumes shards at — size nShards to the reader fleet (hundreds
    * to thousands at 100 TB), never 1 (that would be a global sort).
    * The hash salt "shuffle" decorrelates the order from every other
    * hash-derived assignment (the "split" salt's train/val/test split
    * among them).
    */
  /** Q144: BUDGET-CONSTRAINED domain mixture — the allocation twin of
    * [[temperatureSample]] (q76): where q76 rebalances PROPORTIONS by
    * per-stratum keep-rates with no size target, this op divides a
    * FIXED document budget across domains by tempered weights and
    * takes EXACTLY that many per domain — the "assemble a 10B-token
    * corpus with this mix" step, where the budget is the contract.
    * Domains weigh in at n^(1/2) rather than n, so rare domains are
    * upweighted and one giant crawl cannot own the mix (alpha fixed
    * at 0.5 because IEEE requires sqrt to be correctly rounded — both
    * engines floor the SAME double, where pow(x, alpha) carries no
    * such guarantee and would put cross-engine bits at risk; q76
    * keeps the general-alpha rate form).
    *
    * Exact by construction: per-domain weights w = floor(sqrt(n)) are
    * integers, quotas are integer arithmetic (budget × w div Σw), and
    * selection is the q101 rank machinery — the quota smallest
    * (md5-unit, key) priorities per domain. Σ quotas ≤ budget.
    *
    * Scale shape: the count aggregate is partial-agg'd and DOMAIN-
    * sized; quotas are computed from that model-sized result (the
    * same collect scale as k-means centroids); the corpus-sized work
    * is one per-row hash projection and ONE window shuffle where the
    * constant max-quota filter lets Catalyst plant a map-side
    * WindowGroupLimit (each scan partition ships at most maxQuota
    * rows per domain — the q101 plan, PlanSpec-asserted there), then
    * the per-domain quota trims under a broadcast join. No global
    * sort, no rate×count rounding drift.
    */
  def mixtureSample(df: DataFrame, keyCol: String, domainCol: String,
                    budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    val spark = df.sparkSession
    val domains = df.groupBy(col(domainCol)).agg(count(lit(1)).as("n"))
      .withColumn("w", floor(sqrt(col("n"))).cast("long"))
      .collect() // one row per DOMAIN — model-sized, never corpus-sized
    val totalW = domains.map(_.getAs[Long]("w")).sum
    if (domains.isEmpty || totalW == 0L)
      return df.select(col(keyCol), col(domainCol),
        lit(0.0).as("priority")).filter(lit(false))
    val quotas = domains.map { r =>
      (r.getAs[String](domainCol), budget * r.getAs[Long]("w") / totalW)
    }
    // clamp, don't truncate: a >2^31 quota (10B-token budgets) would
    // overflow toInt negative and silently select zero rows; at
    // Int.MaxValue the constant limit is a no-op and the broadcast
    // quota filter below still trims exactly
    val maxQuota = math.min(Int.MaxValue.toLong,
      math.max(1L, quotas.map(_._2).max)).toInt
    import spark.implicits._
    val quotaDf = quotas.toSeq.toDF(domainCol, "quota")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col(domainCol))
      .orderBy(col("priority").asc, col(keyCol).asc)
    df.select(col(keyCol), col(domainCol))
      .withColumn("priority", hashUnit(col(keyCol), mixSalt))
      .withColumn("rk", row_number().over(win))
      .filter(col("rk") <= maxQuota) // constant: map-side WindowGroupLimit
      .join(broadcast(quotaDf), domainCol)
      .filter(col("rk") <= col("quota"))
      .select(col(keyCol), col(domainCol), col("priority"))
  }

  /** Q145: COST-budget mixture fill — [[mixtureSample]] with the
    * budget in a COST unit (chars here; tokens in production) instead
    * of documents, which is how corpus assembly is actually
    * contracted ("600B tokens with this mix"). Per-domain cost quotas
    * are sqrt-tempered integer arithmetic exactly like q144; within a
    * domain, documents admit GREEDILY in hash-priority order while
    * the cost consumed so far is below quota (cum − cost < quota:
    * admission is decided before a document's own cost lands, so the
    * last document may overshoot its quota by part of itself — the
    * standard greedy fill; a quota can only go unfilled when its
    * domain runs out of documents).
    *
    * Exactness: the running cost is an integer window sum over the
    * deterministic (priority, key) total order — both engines fold
    * the identical prefix. Scale shape: the admission needs each
    * domain's full prefix order, so this is ONE per-domain window
    * shuffle (the q70 packing shape) — no constant group limit can
    * pre-bound it, because the cutoff is in cost units. The exact
    * pre-thinning escape hatch for a skewed 100 TB domain: hash-thin
    * at any rate r whose kept set still exceeds the quota in every
    * domain — the greedy prefix under the SAME priorities is then
    * provably contained in the thinned set, so the composition stays
    * bit-exact (same argument as [[domainCap]]'s, with cost sums in
    * place of ranks).
    */
  def costBudgetMixture(df: DataFrame, keyCol: String, domainCol: String,
                        costCol: String, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    val spark = df.sparkSession
    val domains = df.groupBy(col(domainCol))
      .agg(sum(col(costCol)).cast("long").as("mass"))
      .withColumn("w", floor(sqrt(col("mass"))).cast("long"))
      .collect() // one row per DOMAIN — model-sized
    val totalW = domains.map(_.getAs[Long]("w")).sum
    if (domains.isEmpty || totalW == 0L)
      return df.select(col(keyCol), col(domainCol), col(costCol),
        lit(0.0).as("priority")).filter(lit(false))
    val quotas = domains.map { r =>
      (r.getAs[String](domainCol), budget * r.getAs[Long]("w") / totalW)
    }
    import spark.implicits._
    val quotaDf = quotas.toSeq.toDF(domainCol, "quota")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col(domainCol))
      .orderBy(col("priority").asc, col(keyCol).asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    df.select(col(keyCol), col(domainCol), col(costCol))
      .withColumn("priority", hashUnit(col(keyCol), mixSalt))
      .withColumn("cum", sum(col(costCol)).over(win).cast("long"))
      .join(broadcast(quotaDf), domainCol)
      .filter(col("cum") - col(costCol) < col("quota"))
      .select(col(keyCol), col(domainCol), col(costCol), col("priority"))
  }

  /** Q145's pre-thinning escape hatch AS CODE — the scale path for a
    * skewed domain, previously only proven in [[costBudgetMixture]]'s
    * scaladoc: hash-thin the corpus at `thinRate` BEFORE the per-domain
    * admission window, then run the identical greedy fill. The thin is
    * a pure per-row filter pushed into the scan, so the window exchange
    * carries ~thinRate of the corpus instead of all of it — the
    * straggler domain's window partition shrinks by the same factor.
    *
    * EXACT, not approximate, whenever it returns — by this argument:
    * every row preceding a thinned row in a domain's (priority, key)
    * order has strictly smaller priority, hence is itself below
    * `thinRate` and retained — so prefix cost sums over the thinned set
    * EQUAL the full run's prefix sums, row for row. The admitted set is
    * the maximal prefix with running cost below quota; therefore the
    * thinned fill reproduces the full fill bit-for-bit iff each
    * domain's cutoff is witnessed inside the thinned set. That premise
    * is AUDITED at runtime from a domain-sized aggregate: a domain is
    * safe when it was retained whole, its quota is zero, or some
    * thinned row is already past quota (a rejection witnessed). An
    * unsafe domain throws with the offending domains named — the
    * caller raises `thinRate`; a silently-wrong corpus is never
    * returned. Quotas come from the UNTHINNED masses (same collect as
    * q145), so the arithmetic is untouched by the thin.
    */
  def costBudgetMixtureThinned(df: DataFrame, keyCol: String,
                               domainCol: String, costCol: String,
                               budget: Long, thinRate: Double): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    require(thinRate > 0.0 && thinRate <= 1.0,
      s"thinRate must be in (0,1]: $thinRate")
    val spark = df.sparkSession
    val domains = df.groupBy(col(domainCol))
      .agg(sum(col(costCol)).cast("long").as("mass"),
        count(lit(1)).as("n_full"))
      .withColumn("w", floor(sqrt(col("mass"))).cast("long"))
      .collect() // one row per DOMAIN — model-sized
    val totalW = domains.map(_.getAs[Long]("w")).sum
    if (domains.isEmpty || totalW == 0L)
      return df.select(col(keyCol), col(domainCol), col(costCol),
        lit(0.0).as("priority")).filter(lit(false))
    val quotas = domains.map { r =>
      (r.getAs[String](domainCol),
        budget * r.getAs[Long]("w") / totalW,
        r.getAs[Long]("n_full"))
    }
    val thinned = thinnedAdmissionPlan(df, keyCol, domainCol, costCol,
      thinRate, mixSalt, quotas)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the audit aggregate is domain-sized; absent domains (zero
      // thinned rows) are judged from the collected quota table alone
      val seen = thinned.groupBy(col(domainCol))
        .agg(count(lit(1)).as("n_thin"),
          max((col("cum") - col(costCol) >= col("quota")).cast("int"))
            .as("rejected"))
        .collect()
        .map(r => r.getAs[String](domainCol) ->
          (r.getAs[Long]("n_thin"), r.getAs[Int]("rejected") == 1)).toMap
      val unsafe = quotas.collect {
        case (d, q, nFull)
          if q > 0L && {
            val (nThin, rejected) = seen.getOrElse(d, (0L, false))
            nThin < nFull && !rejected
          } => d
      }
      if (unsafe.nonEmpty)
        throw new graft.core.GraftException(
          s"thinRate=$thinRate too aggressive: admission cutoff not " +
            s"witnessed inside the thinned set for domains " +
            s"${unsafe.mkString(", ")} — raise thinRate")
      thinned.filter(col("cum") - col(costCol) < col("quota"))
        .select(col(keyCol), col(domainCol), col(costCol), col("priority"))
        .localCheckpoint(eager = true)
    } finally thinned.unpersist(blocking = false)
  }

  /** The hash salt of the budgeted mixtures ([[mixtureSample]],
    * [[costBudgetMixture]], [[costBudgetMixtureThinned]]), so all three
    * rank a domain's documents in the same priority order.
    */
  private val mixSalt = "mix"

  /** The thinned admission plan before persist/audit — factored out so
    * PlanSpec-style tests can assert the executed shape (the returned
    * operator result is a checkpoint scan, which hides it): the thin
    * filter must reach the scan side of the window exchange.
    */
  private[graft] def thinnedAdmissionPlan(df: DataFrame, keyCol: String,
      domainCol: String, costCol: String, thinRate: Double, salt: String,
      quotas: Array[(String, Long, Long)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val quotaDf = quotas.toSeq.toDF(domainCol, "quota", "n_full")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col(domainCol))
      .orderBy(col("priority").asc, col(keyCol).asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    df.select(col(keyCol), col(domainCol), col(costCol))
      .withColumn("priority", hashUnit(col(keyCol), salt))
      .filter(col("priority") < thinRate) // per-row, pushed below the window
      .withColumn("cum", sum(col(costCol)).over(win).cast("long"))
      .join(broadcast(quotaDf), domainCol)
  }

  def shuffleShards(df: DataFrame, keyCol: String, nShards: Int): DataFrame = {
    require(nShards > 0, s"nShards must be positive: $nShards")
    import org.apache.spark.sql.expressions.Window
    df.select(col(keyCol), hashUnit(col(keyCol), "shuffle").as("u"))
      .withColumn("shard",
        least(floor(col("u") * nShards), lit((nShards - 1).toDouble))
          .cast("int"))
      .withColumn("pos", row_number().over(
        Window.partitionBy("shard").orderBy(col("u"), col(keyCol))))
      .select(col(keyCol), col("shard"), col("pos"))
  }
}
