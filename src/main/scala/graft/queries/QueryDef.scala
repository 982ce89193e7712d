package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.io.Tables

/** One registry query: its name, the family it is grouped under, the
  * Spark plan over an sf directory, and the DuckDB SQL over the same
  * parquet tables that the plan's result must equal. The oracle is
  * built only when asked for, so looking up a plan builds no SQL.
  */
final class QueryDef private (
    val name: String,
    val family: String,
    val plan: (SparkSession, String) => DataFrame,
    oracleSql: () => String) {
  def oracle: String = oracleSql()
}

object QueryDef {
  def apply(name: String, family: String,
            plan: (SparkSession, String) => DataFrame,
            oracle: => String): QueryDef =
    new QueryDef(name, family, plan, () => oracle)

  /** The fixture table `name` of the sf directory `dir`. */
  private[queries] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.parquet(s, dir, name)
}
