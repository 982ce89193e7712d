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
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
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

  /** Small-files compaction — the maintenance pass every long-running
    * ingest needs (streaming file sinks and per-task writers produce
    * one file per micro-batch per partition; a listing-bound scan
    * eventually spends longer opening files than reading them).
    * Rewrites `srcPath` as ~`targetFileBytes` files: file count from
    * actual on-disk size, `coalesce` (no shuffle) to reach it. Write
    * to a NEW path then swap — never compact in place, readers may
    * hold the old listing.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, srcPath: String,
              destPath: String, targetFileBytes: Long = 128L << 20): Unit = {
    val hadoopPath = new org.apache.hadoop.fs.Path(srcPath)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.getContentSummary(hadoopPath).getLength
    val nFiles = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    spark.read.parquet(srcPath)
      .coalesce(nFiles)
      .write.mode(SaveMode.Overwrite).parquet(destPath)
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
    * the content before and after. Write to a NEW path then swap —
    * never in place, readers may hold the old listing; a table format
    * (Delta/Iceberg) is the production answer for an ATOMIC swap, this
    * is the layout half it automates.
    */
  /** @param filesPerPartition >1 splits each directory across that
    *   many tasks/files (a deterministic-enough hash salt): the bound
    *   that keeps a HOT partition — many GB in one directory after a
    *   year of appends — from becoming a single straggler task writing
    *   one unsplittable file. 1 (default) gives the tightest layout
    *   for ordinary partitions.
    */
  def compactPartitioned(spark: org.apache.spark.sql.SparkSession,
                         srcPath: String, destPath: String,
                         partitionCols: Seq[String],
                         filesPerPartition: Int = 1): Unit = {
    require(partitionCols.nonEmpty,
      "compactPartitioned needs partition columns; use compact() for flat data")
    require(filesPerPartition >= 1, "filesPerPartition must be >= 1")
    import org.apache.spark.sql.functions._
    val df = spark.read.parquet(srcPath)
    val parts = partitionCols.map(col)
    val grouped =
      if (filesPerPartition == 1) df.repartition(parts: _*)
      else df
        .withColumn("__cmp_salt",
          pmod(xxhash64(monotonically_increasing_id()),
            lit(filesPerPartition.toLong)))
        .repartition(parts :+ col("__cmp_salt"): _*)
        .drop("__cmp_salt")
    grouped.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*).parquet(destPath)
  }

  /** Swap a compacted rewrite into place. NOT atomic on a plain
    * FileSystem (a table format is the production answer for that),
    * but NEVER destructive: the live data is renamed aside to
    * `<live>.bak` before the staged copy moves in, so a crash or
    * rename failure at any point leaves a complete copy at a known
    * path — either still live, at .bak, or both — instead of the
    * delete-then-rename window where a failed rename loses the only
    * copy. The .bak is removed only after the staged copy is live.
    */
  def swapInto(spark: org.apache.spark.sql.SparkSession,
               stagedPath: String, livePath: String): Unit = {
    val live = new org.apache.hadoop.fs.Path(livePath)
    val staged = new org.apache.hadoop.fs.Path(stagedPath)
    val bak = new org.apache.hadoop.fs.Path(livePath + ".bak")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(staged), s"staged compaction missing: $stagedPath")
    if (fs.exists(bak) && !fs.delete(bak, true))
      throw new graft.core.GraftException(
        s"failed to clear stale backup $bak")
    val hadLive = fs.exists(live)
    if (hadLive && !fs.rename(live, bak))
      throw new graft.core.GraftException(s"failed to move $livePath aside")
    if (!fs.rename(staged, live)) {
      if (hadLive) fs.rename(bak, live) // restore; best-effort
      throw new graft.core.GraftException(
        s"failed to move $stagedPath over $livePath")
    }
    if (hadLive) fs.delete(bak, true)
  }
}
