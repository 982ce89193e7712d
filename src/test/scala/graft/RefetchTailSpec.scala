package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.HtmlOps

/** The politeness tail every refetch wave shares, driven through all six
  * refetch entry points over one hand-built due set: 12 keys of one
  * domain, all due, two of them equally stale. Each wave must keep
  * exactly the 10 stalest, stalest first, with the tie broken by `canon`.
  */
class RefetchTailSpec extends SparkSpec {
  import spark.implicits._

  private val day = 86400L
  private val t0 = 1767225600L // 2026-01-01T00:00:00Z
  private val nowS = t0 + 30L * day

  // key i was last fetched i hours after t0, except key 10, which ties
  // key 9; as strings ".../p/10" < ".../p/9", so the tie goes to key 10
  private val keys = (0 until 12).map { i =>
    (s"https://d.example/p/$i", t0 + 3600L * (if (i == 10) 9 else i))
  }
  private val kept = Seq(0, 1, 2, 3, 4, 5, 6, 7, 8, 10)

  private def keyOf(canon: String): Int =
    canon.substring(canon.lastIndexOf('/') + 1).toInt

  test("every refetch wave keeps a domain's 10 stalest due keys, ties by canon") {
    val fetchLog = keys.toDF("url", "fetched_at_s")
    val ranks = Seq(("d.example", 7L)).toDF("domain", "pr")
    // every key declared changed after its fetch (q223's due rule)
    val sitemaps = Seq(keys.map { case (u, _) =>
        s"<url><loc>$u</loc><lastmod>2026-02-01</lastmod></url>"
      }.mkString("<urlset>", "", "</urlset>")).toDF("xml")
    val noSitemaps = Seq("").toDF("xml")
    // one version per key: the default TTL decides (q227)
    val versions = keys.toDF("canon", "content_fetch_s")
      .withColumn("body", lit("v0"))
    val base = java.nio.file.Files.createTempDirectory("graft-refetch-tail-")
    try {
      val scope = graft.core.Scopes.create(spark, base.toString)
      HtmlOps.saveFetchLog(fetchLog, scope, "flog")
      val waves: Seq[(String, () => DataFrame)] = Seq(
        "refetchWave" -> (() =>
          HtmlOps.refetchWave(fetchLog, nowS, day, ranks)),
        "refetchWaveFromLog" -> (() =>
          HtmlOps.refetchWaveFromLog(spark, scope, "flog", nowS, day, ranks)),
        "heuristicRefetchWave" -> (() => HtmlOps.heuristicRefetchWave(
          fetchLog, nowS, day, 3600L, 30L * day, ranks)),
        "sitemapRefetchWave" -> (() =>
          HtmlOps.sitemapRefetchWave(sitemaps, spark, scope, "flog", ranks)),
        "unifiedRefetchWave" -> (() => HtmlOps.unifiedRefetchWave(
          fetchLog, noSitemaps, nowS, day, 3600L, 30L * day, ranks)),
        "adaptiveRefetchWave" -> (() => HtmlOps.adaptiveRefetchWave(
          versions, nowS, day, 3600L, 30L * day, ranks)))
      for ((name, wave) <- waves) withClue(s"$name: ") {
        val rows = wave().select("canon", "domain", "pr", "slot").collect()
          .sortBy(_.getAs[Int]("slot"))
        assert(rows.map(_.getAs[Int]("slot")).toSeq === (1 to 10))
        assert(rows.map(r => keyOf(r.getAs[String]("canon"))).toSeq === kept)
        assert(rows.forall(r => r.getAs[String]("domain") == "d.example" &&
          r.getAs[Long]("pr") == 7L))
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }
}
