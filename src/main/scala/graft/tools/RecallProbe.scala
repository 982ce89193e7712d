package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.SimilarityOps

/** Dev tool: print raw per-query recall@10 of the approximate kNN
  * operators against the exact scan, per scale factor — used to choose
  * gate thresholds with real margin rather than guessing.
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("PROBE_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (sf <- args) {
      val emb = Tables.parquet(spark, sf, "embeddings")
      val exact = SimilarityOps.bruteForceKnn(emb).cache()
      for ((label, approx) <- Seq(
          "lsh" -> SimilarityOps.lshKnn(emb),
          "ivf" -> SimilarityOps.ivfKnn(emb),
          "pq" -> SimilarityOps.pqKnn(emb))) {
        val hits = approx.select("query_id", "vec_id")
          .join(exact.select("query_id", "vec_id"), Seq("query_id", "vec_id"))
          .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
        // left join from the exact side so recall-0 queries still print
        val recalls = exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
          .join(hits, Seq("query_id"), "left")
          .selectExpr("query_id", "coalesce(n_hits, 0) / n_exact as recall")
          .orderBy("query_id").collect()
          .map(r => s"${r.getLong(0)}:${r.getDouble(1)}").mkString(" ")
        println(s"RECALL $sf $label $recalls")
      }
      exact.unpersist()
    }
    spark.stop()
  }
}
