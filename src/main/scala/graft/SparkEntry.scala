package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.io.Tables
import graft.ops._
import graft.queries._

/** Driver contract — registry of every declared query (SURVEY.md §2.2)
  * with its DuckDB oracle SQL. Each family's plans and oracles live
  * together in graft.queries; this object only indexes them by name.
  */
object SparkEntry {

  /** Every declared query, in family order; names are unique. */
  val registry: Seq[QueryDef] = {
    val all = Seq(RelationalQueries.defs, StreamingQueries.defs,
      StorageQueries.defs, MediaQueries.defs, TextQueries.defs,
      DedupQueries.defs, VectorQueries.defs, SamplingQueries.defs,
      WebQueries.defs, CorpusQueries.defs, CrawlQueries.defs).flatten
    val dups = all.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    all
  }

  /** Flagship query on sf0.001; driver smoke-checks rows>0. Since
    * round 7 the flagship is the TRAINING-READY chain (q143): the
    * q100 corpus composition — dedup graph with passage evidence,
    * quality/repetition/language/decontamination gates, weighted
    * priority selection — carried through leak-free splits and
    * shuffle-sharding to what a data loader consumes.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    ClusterOps.corpusShards(Tables.parquet(spark, dir, "documents"))
  }

  /** Each query's plan by name. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(d => d.name -> d.plan).toMap
}
