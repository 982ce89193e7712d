package graft

import graft.ops.GraphOps

class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  test("nationTradeRank reproduces hand-computed integer PageRank on a 3-node graph") {
    // edges via the 4-way derivation: 0→1, 0→2, 1→2 (order o maps to
    // customer c, lineitem pairs it with a supplier s)
    val lineitem = Seq((1L, 10L), (2L, 10L), (3L, 11L))
      .toDF("l_orderkey", "l_suppkey")
    val orders = Seq((1L, 100L), (2L, 101L), (3L, 101L))
      .toDF("o_orderkey", "o_custkey")
    val customer = Seq((100L, 1), (101L, 2)).toDF("c_custkey", "c_nationkey")
    val supplier = Seq((10L, 0), (11L, 1)).toDF("s_suppkey", "s_nationkey")
    val nation = Seq(0, 1, 2).toDF("n_nationkey")
    // scale S = 10^12, 3 iterations: r0 = S div 3 each, base =
    // (15·S div 100) div 3 = 5·10^10; node0 has no inflow, so it stays
    // at base from round 1 on, and node1 from round 2 on
    //   round 1: node1 ← r0 div 2, node2 ← r0 div 2 + r0
    //            → node1 191666666666, node2 474999999999
    //   round 2: node1 ← base div 2 = 25·10^9 → 71250000000
    //            node2 ← 25·10^9 + 191666666666 → 234166666666
    //   round 3: node2 ← 25·10^9 + 71250000000 = 96250000000
    //            → 5·10^10 + (85·96250000000) div 100 = 131812500000
    val out = GraphOps.nationTradeRank(lineitem, orders, customer, supplier,
        nation)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(0L -> 50000000000L, 1L -> 71250000000L,
      2L -> 131812500000L))
  }

  test("domainRank reproduces hand-computed integer PageRank on a 3-domain graph") {
    // same closed form as the nation test, over VARCHAR nodes:
    // a→b, a→c, b→c
    val edges = Seq(("a.example", "b.example"), ("a.example", "c.example"),
      ("b.example", "c.example")).toDF("src", "dst")
    val out = GraphOps.domainRank(edges)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("a.example" -> 50000000000L,
      "b.example" -> 71250000000L, "c.example" -> 131812500000L))
  }

  test("domainRank over planted pages: dangling targets rank, mass bounded") {
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val edges = graft.ops.HtmlOps.domainEdges(
      graft.ops.HtmlOps.plantedHtmlCorpus(docs))
    val e = edges.collect().map(r => (r.getString(0), r.getString(1)))
    // src domains are the five fetch hosts; dst cover s<0..12>.example
    assert(e.map(_._1).toSet === (0 to 4).map(i => s"s$i.example").toSet)
    assert(e.map(_._2).toSet === (0 to 12).map(i => s"s$i.example").toSet)
    val out = GraphOps.domainRank(edges).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // every domain on either end is a node (link-target-only domains
    // are exactly what the frontier wants ranked)
    assert(out.keySet === (0 to 12).map(i => s"s$i.example").toSet)
    assert(out.values.forall(_ > 0))
    assert(out.values.sum <= 1000000000000L)
    // a target-only domain (s >= 5: never a fetch host, in-degree
    // only) still accumulates rank beyond the teleport base
    val base = ((15L * 1000000000000L) / 100) / out.size
    assert((5 to 12).exists(i => out(s"s$i.example") > base))
  }

  test("domain-rank artifact (q188): save/load round-trips bit-identically, meta gates the reload") {
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val edges = graft.ops.HtmlOps.domainEdges(
      graft.ops.HtmlOps.plantedHtmlCorpus(docs))
    val base = java.nio.file.Files.createTempDirectory("graft-rank-")
    try {
      val scope = graft.core.Scopes.create(spark, base.toString)
      GraphOps.saveDomainRank(edges, scope, "rank")
      // the reload is BIT-IDENTICAL to the direct computation — the
      // artifact changes where the ranks live, never what they are
      val direct = GraphOps.domainRank(edges).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val loaded = GraphOps.loadDomainRank(spark, scope, "rank").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(loaded === direct)
      assert(graft.io.Artifact.read(spark, scope, "rank").fields ===
        Map("iters" -> "3", "scale_pow10" -> "12"))
      // the meta gate: an artifact of a different trajectory (iters or
      // scale) must fail loudly, not serve wrong-scale ranks
      def recorded(iters: Int, pow10: Int) = {
        graft.io.Artifact.save(spark, scope, "other",
            "iters" -> iters, "scale_pow10" -> pow10) { at =>
          spark.read.parquet(graft.io.Artifact.read(spark, scope, "rank")
            .table("rows")).write.parquet(at("rows"))
        }
        intercept[IllegalArgumentException] {
          GraphOps.loadDomainRank(spark, scope, "other")
        }.getMessage
      }
      val e1 = recorded(5, 12)
      assert(e1.contains("iters -> 5") && e1.contains("iters=3"), e1)
      val e2 = recorded(3, 6)
      assert(e2.contains("scale_pow10 -> 6") && e2.contains("scale_pow10=12"), e2)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("nationTradeRank conserves bounded mass and favors sink nations over sources") {
    val lineitem = graft.io.Tables.parquet(spark, sf, "lineitem")
    val orders = graft.io.Tables.parquet(spark, sf, "orders")
    val customer = graft.io.Tables.parquet(spark, sf, "customer")
    val supplier = graft.io.Tables.parquet(spark, sf, "supplier")
    val nation = graft.io.Tables.parquet(spark, sf, "nation")
    val out = GraphOps.nationTradeRank(lineitem, orders, customer, supplier,
      nation).collect()
    assert(out.length === nation.count())
    // every rank positive; total never exceeds the scale (floor
    // divisions only ever leak mass, never create it)
    assert(out.forall(_.getLong(1) > 0))
    assert(out.map(_.getLong(1)).sum <= 1000000000000L)
  }
}
