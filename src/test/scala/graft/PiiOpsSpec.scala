package graft

import org.apache.spark.sql.functions._

import graft.ops.PiiOps

class PiiOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("piiDetect counts every configured class independently") {
    val d = docs(
      1L -> "mail a@b.io and c.d+e@f-g.co.uk twice, host 192.168.0.1, call 555-0001",
      2L -> "no pii here at all",
      3L -> "just 10.0.0.1 and 10.0.0.2")
    // columns ride in inventory order: n_email, n_ip, n_phone
    val out = PiiOps.piiDetect(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))))
      .toMap
    assert(out(1L) === ((2L, 1L, 1L, true)))
    assert(out(2L) === ((0L, 0L, 0L, false)))
    assert(out(3L) === ((0L, 2L, 0L, true)))
  }

  test("piiRedact leaves zero residual and is idempotent") {
    val planted = PiiOps.plantedPiiCorpus(
      graft.io.Tables.parquet(spark, sf, "documents"))
    val audit = PiiOps.piiRedact(planted)
    assert(audit.agg(sum("n_residual")).as[Long].head() === 0L)
    // every doc gets >= 1 email placeholder
    assert(audit.filter(col("n_redactions") < 1).count() === 0L)
    // idempotence: redacting already-redacted text changes nothing
    val once = planted.select(col("doc_id"),
      PiiOps.redactedText(col("text")).as("text"))
    val twice = once.select(col("doc_id"),
      PiiOps.redactedText(col("text")).as("text"))
    assert(once.exceptAll(twice).isEmpty)
  }

  test("n_redactions counts replacements performed, not placeholder tokens") {
    val d = docs(
      // a pre-existing placeholder literal is NOT a redaction
      1L -> "see [EMAIL] for contact",
      // an IP inside an email's domain is ONE replacement (the email
      // pass consumes it before the IP pass ever sees it)
      2L -> "mail a@10.0.0.1.cc now",
      3L -> "mail a@b.cc and host 10.0.0.1")
    val out = PiiOps.piiRedact(d).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_redactions")).toMap
    assert(out(1L) === 0L)
    assert(out(2L) === 1L)
    assert(out(3L) === 2L)
  }

  test("planted corpus matches the closed form per doc_id") {
    val fixture = graft.io.Tables.parquet(spark, sf, "documents")
    val out = PiiOps.piiDetect(PiiOps.plantedPiiCorpus(fixture))
    val bad = out.filter(
      col("n_email") =!= 1L or
        col("n_phone") =!= when(col("doc_id") % 3 === 0, 1L).otherwise(0L) or
        col("n_ip") =!= when(col("doc_id") % 4 === 1, 1L).otherwise(0L))
    assert(bad.isEmpty)
  }

  test("urlBlocklistFilter blocks exactly the listed registrable domains") {
    val fixture = graft.io.Tables.parquet(spark, sf, "documents")
    val out = PiiOps.urlBlocklistFilter(PiiOps.plantedUrlCorpus(fixture))
    val bad = out.filter(
      col("blocked") =!= (col("doc_id") % 13).isin(2L, 5L, 11L))
    assert(bad.isEmpty)
    // hosts/domains are the planted closed form
    val badHost = out.filter(col("host") =!= concat(
      lit("w"), (col("doc_id") % 97).cast("string"),
      lit(".s"), (col("doc_id") % 13).cast("string"), lit(".example")))
    assert(badHost.isEmpty)
  }

  test("redactedCorpus keeps exactly the v3 selection, scrubbed clean") {
    val fixture = graft.io.Tables.parquet(spark, sf, "documents")
    val out = graft.ops.ClusterOps.redactedCorpus(fixture)
    val sel = graft.ops.ClusterOps.trainingCorpusV3(fixture)
      .select("doc_id")
    // same selection: scrubbing must not change which docs ship
    assert(out.select("doc_id").exceptAll(sel).isEmpty)
    assert(sel.exceptAll(out.select("doc_id")).isEmpty)
    // every shipped row is PII-clean (>=1 planted email redacted)
    assert(out.filter(col("n_residual") =!= 0L).count() === 0L)
    assert(out.filter(col("n_redactions") < 1L).count() === 0L)
  }

  test("the blocklist join is broadcast (no shuffle on the corpus side)") {
    val fixture = graft.io.Tables.parquet(spark, sf, "documents")
    val plan = PiiOps.urlBlocklistFilter(PiiOps.plantedUrlCorpus(fixture))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }
}
