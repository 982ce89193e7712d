package graft

import java.nio.file.Files

import graft.io.{Layout, Tables}

class LayoutSpec extends SparkSpec {

  test("partitioned write enables partition pruning at scan time") {
    val dir = Files.createTempDirectory("graft-layout").toString + "/events"
    Layout.writePartitioned(Tables.events(spark, sf), dir,
      partitionCols = Seq("event_type"), sortCols = Seq("ts"))

    val pruned = spark.read.parquet(dir).filter("event_type = 'click'")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"), plan)
    // the predicate is satisfied by pruning alone — not a data filter
    assert(!plan.contains("PushedFilters: [IsNotNull(event_type)"), plan)
    assert(pruned.count() > 0)

    // physically: only the matching partition directory is listed
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.exists(_.startsWith("event_type=")))
  }

  test("bucketed tables join with no exchange (pre-shuffled on key)") {
    import spark.implicits._
    def cleanup(t: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (loc.exists()) org.apache.commons.io.FileUtils.deleteDirectory(loc)
    }
    cleanup("graft_bucket_a"); cleanup("graft_bucket_b")
    val a = (1 to 1000).map(i => (i.toLong, s"a$i")).toDF("k", "va")
    val b = (1 to 1000).map(i => (i.toLong, s"b$i")).toDF("k", "vb")
    Layout.writeBucketed(a, "graft_bucket_a", "k")
    Layout.writeBucketed(b, "graft_bucket_b", "k")

    // force the non-broadcast path: tiny test tables would otherwise
    // broadcast, which disables bucketing entirely
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("graft_bucket_a")
        .join(spark.table("graft_bucket_b"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"), plan)
      assert(plan.contains("Bucketed: true"), plan)
      assert(joined.count() === 1000)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)

    spark.sql("DROP TABLE IF EXISTS graft_bucket_a")
    spark.sql("DROP TABLE IF EXISTS graft_bucket_b")
  }

  test("compactPartitioned: one file per directory, layout and content preserved") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft-compact-part").toString
    val (src, staged) = (s"$root/live", s"$root/staged")
    // simulate an append-maintained artifact: three write waves, each
    // scattering files into every partition directory
    val rows = (1 to 3000).map(i => (i.toLong, i % 4, s"row-$i"))
      .toDF("id", "part", "payload")
    (0 until 3).foreach { w =>
      rows.filter(col("id") % 3 === w).repartition(4)
        .write.mode("append").partitionBy("part").parquet(src)
    }
    def filesPerDir(p: String): Map[String, Int] =
      new java.io.File(p).listFiles.filter(_.isDirectory)
        .map(d => d.getName -> d.listFiles.count(_.getName.endsWith(".parquet")))
        .toMap
    assert(filesPerDir(src).values.forall(_ >= 3)) // the small-file problem
    val digestBefore = graft.ops.Constraints.contentDigest(
      spark.read.parquet(src), Seq("id", "part", "payload")).collect().head

    graft.io.Layout.compactPartitioned(spark, src, staged, Seq("part"))

    val perDir = filesPerDir(staged)
    assert(perDir.keySet === Set("part=0", "part=1", "part=2", "part=3"))
    assert(perDir.values.forall(_ === 1), perDir.toString)
    val digestAfter = graft.ops.Constraints.contentDigest(
      spark.read.parquet(staged), Seq("id", "part", "payload")).collect().head
    assert(digestAfter === digestBefore) // (n_rows, xor, sum) all equal
    // the source is read, never rewritten
    assert(filesPerDir(src).values.forall(_ >= 3))
  }

  test("zValue is a bijection on the grid and monotonic per axis") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the 64 × 64 corner of the 16-bit grid, exhaustive: the upper
    // bits are zero, so the corner maps onto [0, 64²) exactly
    val n = 64
    val grid = spark.range(n.toLong * n)
      .select((col("id") / n).cast("long").as("a"), (col("id") % n).as("b"))
      .withColumn("z", Layout.zValue(col("a"), col("b")))
    // bijection: every (a, b) pair gets a distinct z in [0, n*n)
    val stats = grid.agg(
      countDistinct("z").as("nd"), min("z").as("lo"), max("z").as("hi"))
      .as[(Long, Long, Long)].head()
    assert(stats === ((n.toLong * n, 0L, n.toLong * n - 1)))
    // monotonic in a with b fixed (and symmetrically): spreading bits
    // preserves order, so a sort by z never inverts a single axis
    val inversions = grid.as[(Long, Long, Long)].collect()
      .groupBy(_._2).valuesIterator
      .map(_.sortBy(_._1).map(_._3))
      .count(zs => zs.zip(zs.tail).exists { case (x, y) => x >= y })
    assert(inversions === 0)
  }
}
