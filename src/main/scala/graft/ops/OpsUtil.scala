package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, UnionExec}
import org.apache.spark.sql.functions.col

import graft.functions.TokenFunctions

/** Shared internals for the ops modules. */
private[ops] object OpsUtil {

  /** THE tokenizer over the `text` column: whitespace split, empties
    * removed ([[graft.functions.WsTokens]]). The whitespace class is
    * EXPLICIT — Java's `\s` includes vertical tab (\x0B) but RE2's
    * (DuckDB's) does not, so a bare `\s+` silently diverges between
    * engines on such input; the six characters space, \t, \n, \x0B,
    * \f, \r keep both sides identical. Mirrored by the DuckDB oracle
    * (graft.queries.DuckSql.duckToks) — change both together or dedup/text
    * parity breaks.
    */
  def tokens: Column = TokenFunctions.wsTokens(col("text"))

  /** THE word n-gram window over a token array (`n` consecutive
    * tokens joined by one space; `[]` under `n` tokens,
    * [[graft.functions.WordShingles]]) — shared by the MinHash
    * shingles and q56's n-gram counts; mirrored by
    * graft.queries.DuckSql.duckShingles.
    */
  def shingles(w: Column, n: Int): Column = TokenFunctions.wordShingles(w, n)

  /** The trimmed, non-blank lines of the `text` column
    * ([[graft.functions.NonBlankLines]]). */
  def lines: Column = TokenFunctions.nonBlankLines(col("text"))

  /** Spread a coarsely-partitioned input (e.g. one small parquet file)
    * across the cluster before a CPU-dense stage. At real scale inputs
    * arrive with many partitions and this is a no-op.
    */
  def par(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (numPartitions(df.queryExecution.executedPlan) >= target) df
    else df.repartition(target)
  }

  /** The partition count `plan` will execute with, read from the plan:
    * a file scan's split count, a known output partitioning, a union's
    * sum, else the single child's. `df.rdd` would answer too, but it
    * plans a second query and compiles its generated classes on the
    * driver. Plans none of these cases cover are executed.
    */
  private def numPartitions(plan: SparkPlan): Int = plan match {
    case scan: FileSourceScanExec => scan.inputRDD.getNumPartitions
    case p if p.outputPartitioning.numPartitions > 0 =>
      p.outputPartitioning.numPartitions
    case u: UnionExec => u.children.map(numPartitions).sum
    case p if p.children.size == 1 => numPartitions(p.children.head)
    case p => p.execute().getNumPartitions
  }
}
