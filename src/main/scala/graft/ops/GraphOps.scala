package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over relations derived from the warehouse
  * tables — the power-iteration complement to the connected-components
  * machinery in [[ClusterOps]].
  *
  * Everything is INTEGER arithmetic by construction: ranks live at a
  * fixed decimal scale and every division is integral, so the full
  * iteration trajectory is reproducible on any engine (the oracle
  * replays all rounds) and under any shuffle order (long sums are
  * associative). The float-free formulation is the same trick as
  * [[SimilarityOps.kmeansStep]]'s fixed-point distances.
  */
object GraphOps {

  import OpsUtil.par

  /** Every rank table runs three power-iteration rounds at the decimal
    * scale 10^12 (the oracles replay the same trajectory).
    */
  private val Iters = 3
  private val ScalePow10 = 12
  private val Scale = math.pow(10, ScalePow10).toLong

  /** Q118: PageRank over the nation-level trade graph — an edge
    * (supplier nation → customer nation) exists when any lineitem
    * ships between them. The edge derivation is the interesting part
    * at 100 TB: a four-way join over the fact table reduced by
    * DISTINCT to a bounded nations × nations edge set; from there each
    * power-iteration round is a join against that tiny edge list plus
    * one bounded aggregation — rank state never exceeds the node
    * count, regardless of fact-table size.
    *
    * Simple PageRank (damping 0.85, no dangling-mass redistribution —
    * deterministic leak, reproduced by the oracle): with integral
    * division throughout,
    * `pr' = base + (85 · Σ_{u→v} pr(u) div deg(u)) div 100`.
    */
  def nationTradeRank(lineitem: DataFrame, orders: DataFrame,
                      customer: DataFrame, supplier: DataFrame,
                      nation: DataFrame): DataFrame = {
    val edges = par(lineitem).select("l_orderkey", "l_suppkey")
      .join(orders.select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer.select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(supplier.select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_nationkey").cast("long").as("src"),
        col("c_nationkey").cast("long").as("dst"))
      .distinct()
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val nodes = nation.select(col("n_nationkey").cast("long").as("node"))
    powerIterate(nodes, edges, deg)
  }

  /** The shared exact power-iteration loop over a bounded edge set —
    * nodes/edges/degrees are all vocabulary-sized (nations, domains),
    * so every round is two small joins plus one bounded aggregation;
    * the `count()` for the teleport base is over the node VOCABULARY,
    * never the corpus.
    */
  private def powerIterate(nodes: DataFrame, edges: DataFrame,
                           deg: DataFrame): DataFrame = {
    val nodeCol = nodes.columns.head
    val n = nodes.count()
    val base = ((15L * Scale) / 100) / n
    var ranks = nodes.withColumn("pr", lit(Scale / n))
    for (_ <- 1 to Iters) {
      val inflow = edges.join(deg, "src")
        .join(ranks, col("src") === col(nodeCol))
        .select(col("dst"), expr("pr div deg").as("c"))
        .groupBy("dst").agg(sum("c").as("s"))
      ranks = nodes.join(inflow, col(nodeCol) === col("dst"), "left")
        .select(col(nodeCol),
          (lit(base) + expr("85 * coalesce(s, 0L) div 100")).as("pr"))
    }
    ranks
  }

  /** Q180: PageRank over the crawl's registrable-domain link graph
    * ([[HtmlOps.domainEdges]]) — the prioritization signal a crawl
    * frontier feeds on: domains that well-linked domains link to
    * fetch first. Nodes are every domain that appears on either end
    * of an edge (a link-TARGET-only domain is exactly what the
    * frontier wants ranked, so dangling nodes stay in the node set —
    * their outflow leaks, the q118 deterministic-leak contract).
    * Same all-integer round-replaying machinery as
    * [[nationTradeRank]]: ranks at a fixed decimal scale, integral
    * division throughout, the oracle replays the full trajectory.
    */
  def domainRank(edges: DataFrame): DataFrame = {
    val e = edges.persist() // feeds deg, nodes (twice), and each round
    try {
      val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
      val nodes = e.select(col("src").as("domain"))
        .union(e.select(col("dst")))
        .distinct()
      powerIterate(nodes, e, deg)
        .select(col("domain"), col("pr"))
        .localCheckpoint(eager = true)
    } finally { e.unpersist(blocking = false); () }
  }

  /** Q188: the domain-rank table as a PERSISTED artifact — computed
    * once per crawl epoch and read by every frontier wave (q187),
    * instead of re-deriving the edge graph + running the iteration on
    * each call. Stored under a Scope with the iteration count and the
    * rank scale recorded in its manifest (the q137 artifact convention), so a
    * reader knows exactly which trajectory it is consuming and
    * [[loadDomainRank]] can refuse a trajectory it does not compute.
    *
    * Refresh policy — stated honestly: this is a FULL-RECOMPUTE
    * artifact. PageRank is a global fixed point; an edge delta
    * perturbs every rank, so there is no exact O(batch) refresh the
    * way [[HtmlOps.appendUrlKeys]] has one (incremental PPR push
    * methods exist but are approximate). That trade is fine here:
    * the edge derivation is the only corpus-sized pass, and the
    * iteration state is DOMAIN-VOCABULARY-sized (model-sized by the
    * q180 contract) — recomputing per epoch costs one corpus scan,
    * which the crawl was already paying to extract outlinks.
    */
  def saveDomainRank(edges: DataFrame, scope: graft.core.Scope,
                     name: String): Unit =
    graft.io.Artifact.save(edges.sparkSession, scope, name,
        "iters" -> Iters, "scale_pow10" -> ScalePow10) { at =>
      domainRank(edges).write.parquet(at("rows"))
    }

  /** Reads a [[saveDomainRank]] artifact back as (domain, pr), gated
    * on the recorded manifest: an artifact of another trajectory fails
    * loudly instead of silently feeding ranks at the wrong scale into a
    * frontier sort.
    */
  def loadDomainRank(spark: org.apache.spark.sql.SparkSession,
                     scope: graft.core.Scope, name: String): DataFrame = {
    val meta = graft.io.Artifact.read(spark, scope, name)
    require(meta.int("iters") == Iters && meta.int("scale_pow10") == ScalePow10,
      s"domain-rank artifact $name has meta ${meta.fields}; expected " +
        s"iters=$Iters scale_pow10=$ScalePow10")
    spark.read.parquet(meta.table("rows"))
      .select(col("domain"), col("pr"))
  }
}
