package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Stage-level profile of one registry query: run it like the bench
  * does (warm once, then timed) with a listener that records every
  * stage's wall time, task count and shuffle volume. The output is the
  * optimization round's measurement tool — it says whether a query's
  * seconds are a few heavy stages (compute-bound: fix the operator) or
  * many tiny ones (latency-bound: fix the job/stage COUNT). Each run
  * also prints its generated-class compiles (`COMPILES <query> <run>
  * <n>`): a steady-state run that still compiles most of its classes
  * has outgrown Spark's codegen cache.
  *
  * Usage: tools/run_tool.sh graft.tools.ProfileOne <query> [sfDir]
  */
object ProfileOne {
  final case class StageRow(id: Int, name: String, tasks: Int,
                            wallMs: Long, taskMs: Long,
                            shufReadMB: Double, shufWriteMB: Double)

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = SparkSession.builder()
      .master("local[" + sys.env.getOrElse("SPARK_GRAFT_CPUS", "32") + "]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.io.Tables.all.foreach(t =>
      try graft.io.Tables.parquet(spark, sfDir, t).count()
      catch { case _: Throwable => })

    // generated classes Janino compiled since `from` — the codegen
    // cache's misses (its 100 entries are keyed by class loader and
    // code, so a driver-side and a task-side use of one class are two)
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def report(run: String, from: Long): Unit =
      println(s"COMPILES $name $run ${compiles() - from}")

    // warm run (codegen/JIT) exactly like the bench
    var from = compiles()
    graft.SparkEntry.queries(name)(spark, "/root/testdata/sf0.001").count()
    report("warm", from)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))

    // steady-state: the bench medians measure runs 2-3, which reuse
    // any per-(session, dir) artifact scope a query seeds on run 1 —
    // profile run 2 unless SPARK_GRAFT_PROFILE_RUN=1
    if (sys.env.getOrElse("SPARK_GRAFT_PROFILE_RUN", "2") == "2") {
      from = compiles()
      graft.SparkEntry.queries(name)(spark, sfDir).count()
      report("run2", from)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }

    val stages = mutable.ArrayBuffer.empty[StageRow]
    var nJobs = 0
    // driver-gap accounting: wall time when NO job is running (plan
    // optimization, collects, checkpoint coordination) vs in-job time
    var lastEnd = 0L
    var gapMs = 0L
    var inJob = 0
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        synchronized {
          nJobs += 1
          if (inJob == 0 && lastEnd > 0) gapMs += j.time - lastEnd
          inJob += 1
        }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        synchronized { inJob -= 1; if (inJob == 0) lastEnd = j.time }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        synchronized {
          val i = s.stageInfo
          val wall = (for {a <- i.completionTime; b <- i.submissionTime}
            yield a - b).getOrElse(-1L)
          val m = i.taskMetrics
          // first graft frame of the callsite stack — the attribution
          // the default two-line stage name lacks
          val site = i.details.linesIterator
            .find(l => l.contains("graft.") && !l.contains("ProfileOne"))
            .getOrElse(i.name.takeWhile(_ != '\n')).trim.take(110)
          stages += StageRow(i.stageId, site, i.numTasks, wall,
            m.executorRunTime,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6)
        }
    }
    spark.sparkContext.addSparkListener(listener)
    from = compiles()
    val t0 = System.nanoTime()
    graft.SparkEntry.queries(name)(spark, sfDir).count()
    val dt = (System.nanoTime() - t0) / 1e9
    report("profiled", from)
    Thread.sleep(500) // let the listener bus drain
    println(f"TOTAL $name $dt%.3f s  jobs=$nJobs stages=${stages.size} " +
      f"stageWallSum=${stages.map(_.wallMs).sum / 1000.0}%.2f s " +
      f"driverGaps=${gapMs / 1000.0}%.2f s")
    stages.sortBy(-_.wallMs).take(40).foreach { s =>
      println(f"  ${s.wallMs}%6d ms wall ${s.taskMs}%7d ms task ${s.tasks}%4d t " +
        f"r=${s.shufReadMB}%8.2f MB w=${s.shufWriteMB}%8.2f MB  [${s.id}] ${s.name}")
    }
    spark.stop()
  }
}
