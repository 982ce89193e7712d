package graft.io

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Data-layout writers — the storage-side half of the 100 TB design.
  *
  * - Partitioned writes put the high-selectivity predicate columns in
  *   the directory structure, so scans prune whole partitions before
  *   reading a byte (`PartitionFilters` in explain — asserted by
  *   LayoutSpec).
  * - Sorted-within-partition writes give parquet min/max row-group
  *   statistics real selectivity for range predicates.
  * - Bucketed tables pre-shuffle on the join/agg key at write time:
  *   two tables bucketed the same way join with NO exchange at read
  *   time — the shuffle is paid once, not per query (asserted by
  *   LayoutSpec).
  */
object Layout {

  /** Hive-style partitioned parquet, optionally sorted inside each
    * partition for row-group pruning.
    */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String],
                       sortCols: Seq[String] = Nil): Unit = {
    val sorted =
      if (sortCols.isEmpty) df
      else df.sortWithinPartitions(sortCols.map(df.col): _*)
    sorted.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }

  /** Bucketed + sorted managed table (bucket pre-shuffle on the key).
    * Drops any stale catalog entry AND its warehouse directory first:
    * a location left by a previous process is invisible to the fresh
    * in-memory catalog but still blocks `saveAsTable`.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    numBuckets: Int = 16): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    graft.core.Scopes.deletePath(
      loc.getFileSystem(spark.sparkContext.hadoopConfiguration), loc)
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Bit-interleaved Z-VALUE of two non-negative `bits`-bit integers:
    * bit i of `a` lands at position 2i, bit i of `b` at 2i+1. Rows
    * close in z are close in BOTH dimensions, so range-partitioning
    * and sorting by z gives parquet min/max statistics selectivity on
    * TWO predicate columns at once — where a single-column sort
    * ([[writePartitioned]]'s `sortCols`) buys skipping on one column
    * and leaves the other unclustered. Pure bit arithmetic, fully
    * codegen'd; monotonic in each argument with the other fixed, and
    * a bijection on the `bits`×`bits` grid (LayoutSpec asserts both).
    */
  def zValue(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31]: $bits")
    (0 until bits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_.bitwiseOR(_))
  }

  /** Min-max normalize a non-negative integer column onto the
    * `bits`-bit grid. `floor(n / d)` over doubles here EQUALS exact
    * integer division, so any engine reproduces the value bit-for-bit
    * (the q112 oracle's integer `//` does): n ≤ keyRange·(2^bits − 1)
    * stays far under 2^53 (exact in double), and when d ∤ n the true
    * quotient is ≥ 1/d ≥ 2^−31 away from an integer while the
    * division's rounding error is ≤ 2^bits·2^−53 — floor cannot flip.
    * Degenerate ranges map to 0.
    */
  def gridScale(x: Column, lo: Column, hi: Column, bits: Int = 16): Column = {
    val m = (1L << bits) - 1
    when(hi <= lo, lit(0L))
      .otherwise(floor(((x - lo) * lit(m)).cast("double") /
        (hi - lo).cast("double")).cast("long"))
  }

  /** The q112 surface: rows of `df` with their z-order key (named
    * `__z`) over min-max-scaled `colA`, `colB`.
    */
  def zorderKey(df: DataFrame, colA: String, colB: String,
                bits: Int = 16): DataFrame = {
    val bounds = df.agg(
      min(col(colA)).as("__alo"), max(col(colA)).as("__ahi"),
      min(col(colB)).as("__blo"), max(col(colB)).as("__bhi"))
    df.crossJoin(broadcast(bounds))
      .withColumn("__z", zValue(
        gridScale(col(colA), col("__alo"), col("__ahi"), bits),
        gridScale(col(colB), col("__blo"), col("__bhi"), bits), bits))
      .drop("__alo", "__ahi", "__blo", "__bhi")
  }

  /** Q139: PARTITION-PRESERVING compaction — the maintenance pass the
    * append-based artifacts need (q83 cells, q128 postings buckets,
    * q135 label buckets, q137 bands: every O(batch) append adds a file
    * wave per touched partition directory, and after a year of daily
    * batches a probe opens hundreds of small files per directory).
    * Rewrites the dataset under the SAME partition columns with each
    * partition's rows grouped into one task — `repartition(partition
    * cols)` hashes every value's rows to a single task, so each
    * directory lands as ~one file — while the directory layout, and
    * therefore every listing-time pruning contract (PartitionFilters
    * on cell/bucket/cbucket/b), survives verbatim. Content-neutral by
    * construction (same rows, same columns); q139 proves it by holding
    * the compacted band artifact to q13's oracle, and the spec digests
    * the content before and after. Writes to `destPath`, never in
    * place: readers may hold the old listing, so q139 writes the next
    * artifact version ([[Artifact.save]]) from the current one.
    */
  def compactPartitioned(spark: org.apache.spark.sql.SparkSession,
                         srcPath: String, destPath: String,
                         partitionCols: Seq[String]): Unit = {
    require(partitionCols.nonEmpty, "compactPartitioned needs partition columns")
    val parts = partitionCols.map(col)
    spark.read.parquet(srcPath).repartition(parts: _*)
      .write.partitionBy(partitionCols: _*).parquet(destPath)
  }
}
