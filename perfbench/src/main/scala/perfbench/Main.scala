package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.{JsonMethods, Serialization}

/** The benchmark's JVM side: runs one named workload as a closed loop
  * with one client and prints every metric, then one JSON result line.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --fixtures <dir> --work <dir> --golden <file>
  *                  [--results <dir>] [--commit <id>]
  *   perfbench.Main --make-golden <file> --fixtures <dir> --work <dir>
  *
  * `--fixtures` holds one directory per scale (`sf0.01`, `sf0.1`); each
  * workload reads the scale it names.
  *
  * Protocol: Spark start; the workload's setup, `SetupReps` times (its
  * median is `setup_s`); the workload's warm-up (one pass unless it
  * says otherwise); then measured passes until `--seconds` have passed
  * and at least `minPasses` passes ran. A traced run
  * alternates untraced and traced passes (`minPasses` of each at least), so the
  * tracing overhead is the difference of their medians in one process.
  */
object Main {
  val SetupReps = 3

  /** Registry subsets small enough for a run to fit the benchmark's
    * time budget (README, "Scale"); the full families are in
    * [[RegistryWorkload]] and their golden digests in golden.json.
    */
  val FlagshipSubset = Seq("q143")
  val CrawlSubset = Seq("q191", "q198", "q221", "q228")
  val WsiRows = 50000
  val ArtifactBatches = 2

  def workload(name: String, golden: => Map[String, String]): Workload = name match {
    case "wsi_roundtrip" => new WsiWorkload(WsiRows)
    case "corpus_flagship" => new RegistryWorkload(FlagshipSubset, golden)
    case "crawl_frontier" => new RegistryWorkload(CrawlSubset, golden)
    case "artifact_cycle" => new ArtifactWorkload(ArtifactBatches)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  private def parseArgs(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0, s"arguments come in --key value pairs: ${args.mkString(" ")}")
    args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"not an option: $k"); k.drop(2) -> v
    }.toMap
  }

  private def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Fixed pure-JVM work, timed: the best of twelve sorts of the same
    * pseudo-random array, after eight untimed ones that let the JIT
    * settle. Run before Spark starts and after it stops; the ratio
    * shows whether the host's speed drifted during the run.
    */
  def calibrate(): Double = {
    val src = new Array[Int](1 << 18)
    var x = 12345L
    src.indices.foreach { i => x = x * 6364136223846793005L + 1442695040888963407L; src(i) = (x >>> 33).toInt }
    (1 to 20).map { _ =>
      val a = src.clone()
      val t0 = System.nanoTime()
      java.util.Arrays.sort(a)
      (System.nanoTime() - t0) / 1e9
    }.drop(8).min
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Runtime.getRuntime.totalMemory() / 1048576.0)

  private implicit val formats: Formats = DefaultFormats

  def readGolden(path: String): Map[String, String] =
    JsonMethods.parse(new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8))
      .extract[Map[String, String]]

  private def writeJson(path: java.nio.file.Path, doc: AnyRef): Unit =
    Files.write(path, Serialization.write(doc).getBytes(StandardCharsets.UTF_8))

  def main(args: Array[String]): Unit = {
    val opt = parseArgs(args)
    val work = opt("work")
    Files.createDirectories(Paths.get(work))
    if (opt.contains("make-golden")) makeGolden(opt("make-golden"), opt("fixtures"), work)
    else run(opt, work)
  }

  private def run(opt: Map[String, String], work: String): Unit = {
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val wl = workload(name, readGolden(opt("golden")))

    val calBefore = calibrate()
    val t0 = System.nanoTime()
    val spark = session(work)
    val sparkStartS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, s"${opt("fixtures")}/${wl.scale}", work, seed)

    val setupTimes = (1 to SetupReps).map { _ =>
      val s0 = System.nanoTime(); wl.setup(ctx); (System.nanoTime() - s0) / 1e9
    }
    val w0 = System.nanoTime()
    ctx.beginPass(0, None)
    wl.warmup(ctx)
    val warmupS = (System.nanoTime() - w0) / 1e9

    val tracer = if (traced) Some(new Tracer(spark)) else None
    val passTimes = scala.collection.mutable.ArrayBuffer.empty[(Int, Boolean, Double)]
    val m0 = System.nanoTime()
    def count(tr: Boolean) = passTimes.count(_._2 == tr)
    def done = (System.nanoTime() - m0) / 1e9 >= seconds &&
      count(false) >= wl.minPasses && (!traced || count(true) >= wl.minPasses)
    var p = 1
    while (!done) {
      // untraced, traced, traced, untraced, ...: a warming trend
      // biases neither side of the overhead
      val on = traced && (p % 4 == 2 || p % 4 == 3)
      if (on) tracer.get.attach()
      ctx.beginPass(p, if (on) tracer else None)
      val p0 = System.nanoTime()
      wl.pass(ctx, p)
      passTimes += ((p, on, (System.nanoTime() - p0) / 1e9))
      if (on) tracer.get.detach()
      p += 1
    }
    val probes = if (traced) wl.probes(ctx) else Map.empty[String, Double]
    val rss = peakRssMb()
    wl.close(ctx)
    val sparkConf = spark.conf.getAll.filter(_._1.startsWith("spark.sql")).toSeq.sortBy(_._1).toMap
    spark.stop()
    val calAfter = calibrate()

    val all = ctx.samples.toSeq
    val measured = all.filter(s => s.pass > 0 && !s.traced)
    val failed = all.filter(_.error.nonEmpty)
    val opSummary = Stats.summarize(measured.map(_.seconds))
    val untracedPasses = passTimes.filter(!_._2).map(_._3).toSeq
    // the end-to-end metrics every workload reports (BENCHMARK.json)
    val endToEnd: Seq[(String, Double, String)] = Seq(
      ("setup_s", Stats.median(setupTimes), "s"),
      ("pass_s", Stats.median(untracedPasses), "s"),
      ("peak_rss_mb", rss, "MB"))
    val extra = Seq(("op_p50_s", opSummary.p50, "s"), ("op_p90_s", opSummary.p90, "s"),
      ("error_rate", failed.size.toDouble / all.size, "ratio")) ++ wl.extraEndToEnd(measured)

    val layerMetrics: Seq[(String, Double, String)] =
      if (!traced) Nil
      else Layers.report(wl, all.filter(_.traced), tracer.get,
        Stats.median(passTimes.filter(_._2).map(_._3).toSeq), Stats.median(untracedPasses),
        probes, calAfter / calBefore)

    // ---- human-readable report ----
    println(s"perfbench workload=$name seed=$seed trace=${if (traced) 1 else 0} " +
      s"cpus=${Runtime.getRuntime.availableProcessors()} spark_start_s=$sparkStartS warmup_s=$warmupS")
    println(s"passes: untraced=${count(false)} traced=${count(true)}; ops: attempted=${all.size} " +
      s"failed=${failed.size}; op samples=${opSummary.n} (beyond p90: ${opSummary.beyondP90})")
    (endToEnd ++ extra).foreach { case (k, v, u) => println(f"  $k%-22s $v%14.6f $u") }
    layerMetrics.foreach { case (k, v, u) => println(f"  $k%-30s $v%16.4f $u") }
    failed.foreach(s => println(s"FAILED op ${s.id} (pass ${s.pass}) ${s.kind} ${s.label}: ${s.error.get}"))
    val drift = calAfter / calBefore
    if (math.abs(drift - 1) > 0.10)
      println(f"WARNING host drift: calibration loop moved by ${(drift - 1) * 100}%.1f%% during the run")

    // ---- artifact: host record, every metric, every op, spans ----
    opt.get("results").foreach { dir =>
      Files.createDirectories(Paths.get(dir))
      val tag = s"$name-seed$seed-trace${if (traced) 1 else 0}"
      val host = Map(
        "cpus" -> Runtime.getRuntime.availableProcessors(),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
        "java" -> System.getProperty("java.version"),
        "commit" -> opt.getOrElse("commit", "unknown"),
        "spark_conf" -> sparkConf,
        "calibration_before_s" -> calBefore, "calibration_after_s" -> calAfter,
        "drift_ratio" -> drift)
      val doc = Map(
        "workload" -> name, "seed" -> seed, "trace" -> traced, "seconds" -> seconds,
        "host" -> host, "spark_start_s" -> sparkStartS, "warmup_s" -> warmupS,
        "setup_s" -> setupTimes, "passes" -> passTimes.map { case (n, tr, s) =>
          Map("pass" -> n, "traced" -> tr, "seconds" -> s) },
        "metrics" -> (endToEnd ++ extra ++ layerMetrics).map { case (k, v, u) =>
          k -> Map("value" -> v, "unit" -> u) }.toMap,
        "ops" -> all.map(s => Map("pass" -> s.pass, "id" -> s.id, "kind" -> s.kind,
          "label" -> s.label, "seconds" -> s.seconds, "traced" -> s.traced,
          "error" -> s.error.orNull)))
      writeJson(Paths.get(dir, s"$tag.json"), doc)
      tracer.foreach { t =>
        val spans = t.allSpans.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
          "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
        writeJson(Paths.get(dir, s"$tag.spans.json"), Map("self_ms" -> t.selfMs, "spans" -> spans))
      }
    }

    // ---- the result line ----
    val reported = if (traced) layerMetrics else endToEnd
    val metrics = reported.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap
    println(Serialization.write(Map("correct" -> failed.isEmpty, "attempted" -> all.size,
      "failed" -> failed.size, "metrics" -> metrics)))
  }

  /** Digests the registry fixture and every flagship and crawl query
    * twice, at the registry workloads' scale, and writes the digests as
    * the golden file. A query whose two digests differ is reported and
    * left out of the file.
    */
  private def makeGolden(out: String, fixtureRoot: String, work: String): Unit = {
    val fixtures = s"$fixtureRoot/${RegistryWorkload.Scale}"
    val spark = session(work)
    val ctx = new Ctx(spark, fixtures, work, 0L)
    val names = (RegistryWorkload.flagship ++ RegistryWorkload.crawl).map { p =>
      graft.SparkEntry.queries.keys.find(_.startsWith(p + "_")).get
    }
    def digestAll(): Map[String, String] =
      (("fixture:documents" -> CanonicalHash.of(graft.io.Tables.parquet(spark, fixtures, "documents"))) +:
        names.map { q =>
          val d = CanonicalHash.of(graft.SparkEntry.queries(q)(spark, fixtures))
          ctx.release()
          q -> d
        }).toMap
    val a = digestAll()
    val b = digestAll()
    val unstable = a.keys.filter(k => a(k) != b(k)).toSeq.sorted
    unstable.foreach(k => println(s"FINDING: $k digest differs between two runs: ${a(k)} vs ${b(k)}"))
    writeJson(Paths.get(out), scala.collection.immutable.TreeMap((a -- unstable).toSeq: _*))
    println(s"wrote ${a.size - unstable.size} golden digests to $out")
    spark.stop()
  }
}
