package graft

import graft.io.Tables
import graft.streaming.EventsStreaming

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("funnel requires strict order: out-of-order and tied stages do not advance") {
    val base = java.time.Instant.parse("2024-01-01T10:00:00Z")
      .getEpochSecond * 1000000L
    def ev(id: Long, uid: Long, min: Int, tpe: String) =
      (id, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        0, (base + min * 60L * 1000000L) * 1000L)), uid, tpe, 1.0, "{}")
    val events = Seq(
      // user 1: full ordered funnel
      ev(1, 1, 0, "view"), ev(2, 1, 5, "click"), ev(3, 1, 9, "purchase"),
      // user 2: click BEFORE view — never advances past stage 1
      ev(4, 2, 3, "click"), ev(5, 2, 7, "view"),
      // user 3: click at the SAME instant as view — strict > rejects it
      ev(6, 3, 2, "view"), ev(7, 3, 2, "click"),
      // user 4: view then purchase, no click — stops at stage 1
      ev(8, 4, 0, "view"), ev(9, 4, 4, "purchase"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = EventsStreaming.funnelStages(events)
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(out === Map(1 -> 4L, 2 -> 1L, 3 -> 1L))
  }

  test("retention buckets by the user's OWN first event; exact 7-day boundary rolls over") {
    val base = java.time.Instant.parse("2024-01-01T10:00:00Z")
      .getEpochSecond * 1000000L
    def ev(id: Long, uid: Long, minOff: Long, tpe: String) =
      (id, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        0, (base + minOff * 60L * 1000000L) * 1000L)), uid, tpe, 1.0, "{}")
    val week = 7L * 24 * 60
    val events = Seq(
      ev(1, 1, 0, "view"),            // user 1 week 0
      ev(2, 1, week - 1, "click"),    // 1 min short of a week → week 0
      ev(3, 1, week, "view"),         // exactly 7 days → week 1
      ev(4, 2, week * 5, "view"),     // user 2 starts late: THEIR week 0
      ev(5, 2, week * 7, "click"))    // their week 2
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = EventsStreaming.weeklyRetention(events)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(0L -> 2L, 1L -> 1L, 2L -> 1L))
  }

  test("event paths respect per-user time order and count sliding trigrams") {
    val base = java.time.Instant.parse("2024-01-01T10:00:00Z")
      .getEpochSecond * 1000000L
    def ev(id: Long, uid: Long, min: Int, tpe: String) =
      (id, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        0, (base + min * 60L * 1000000L) * 1000L)), uid, tpe, 1.0, "{}")
    val events = Seq(
      // user 1: v c p v → trigrams v>c>p, c>p>v
      ev(1, 1, 0, "view"), ev(2, 1, 1, "click"),
      ev(3, 1, 2, "purchase"), ev(4, 1, 3, "view"),
      // user 2 emits v c p too, but INSERTED out of arrival order —
      // ordering must come from ts, not insertion
      ev(7, 2, 12, "purchase"), ev(5, 2, 10, "view"), ev(6, 2, 11, "click"),
      // user 3: too short for a trigram
      ev(8, 3, 0, "view"), ev(9, 3, 1, "click"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = EventsStreaming.topEventPaths(events)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("view>click>purchase" -> 2L, "click>purchase>view" -> 1L))
  }

  test("streaming funnel equals the batch funnel on the fixture (q92 contract)") {
    val batch = EventsStreaming.funnelStages(Tables.events(spark, sf))
      .collect().map(_.toSeq).toSet
    val streamed = EventsStreaming.funnelStagesStreaming(spark, sf,
        queryName = "spec_funnel_stream")
      .collect().map(_.toSeq).toSet
    assert(streamed === batch)
    assert(batch.nonEmpty)
  }

  test("streaming windowed agg equals the batch plan on a static fixture") {
    val batch = EventsStreaming.hourlyByType(Tables.events(spark, sf))
      .collect().map(_.toSeq).toSet
    val streamed = EventsStreaming
      .hourlyByTypeStreaming(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(streamed === batch)
    assert(batch.nonEmpty)
  }

  test("streaming near-dup candidates equal the incremental batch operator (q60 contract)") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.parquet(spark, sf, "documents")
    val batch = graft.ops.DedupOps.incrementalNearDupCandidates(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0))
      .collect().map(_.toSeq).toSet
    val streamed = EventsStreaming
      .streamingNearDupCandidates(spark, sf, queryName = "spec_neardup")
      .collect().map(_.toSeq).toSet
    assert(streamed === batch)
  }

  test("stateful streaming sessionize agrees with the batch gaps-and-islands") {
    val batch = EventsStreaming.sessionize(Tables.events(spark, sf))
      .selectExpr("user_id", "n_events", "cast(round(sum_value * 100) as bigint) as cents")
      .collect().map(_.toSeq).toSet
    val streamed = EventsStreaming
      .sessionizeStreaming(spark, sf, queryName = "spec_sessions")
      .selectExpr("user_id", "n_events", "sum_value_cents as cents")
      .collect().map(_.toSeq).toSet
    assert(streamed === batch)
    assert(batch.nonEmpty)
  }

  test("stream-stream view→click join matches the batch join exactly") {
    import org.apache.spark.sql.functions.{col, expr}
    // the batch reference: each view joined to the same user's clicks
    // landing within 30 minutes after it
    val ev = Tables.events(spark, sf)
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        expr("unix_micros(ts)").as("v_us"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        expr("unix_micros(ts)").as("c_us"))
    val batch = views.join(clicks, Seq("user_id"))
      .filter(col("c_us") >= col("v_us") &&
        col("c_us") < col("v_us") + 30L * 60L * 1000000L)
      .select(col("view_id"), col("click_id"), col("user_id"),
        (col("c_us") - col("v_us")).as("delay_us"))
      .collect().map(_.toSeq).toSet
    val streamed = EventsStreaming
      .viewClickJoinStreaming(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(streamed === batch)
    assert(batch.nonEmpty)
  }

  test("streaming constraint audit's final emission equals the batch audit (q126/q127)") {
    import org.apache.spark.sql.functions.col
    val ev = Tables.events(spark, sf)
    val batch = graft.ops.Constraints.audit(ev, Seq(
        "event_type_domain" ->
          !col("event_type").isin("view", "click", "purchase"),
        "value_nonneg" -> (col("value") < 0),
        "user_id_notnull" -> col("user_id").isNull))
      .collect().map(_.toSeq).toSet
    val streamed = EventsStreaming
      .constraintAuditStreaming(spark, sf, queryName = "spec_audit")
      .collect().map(_.toSeq).toSet
    assert(streamed === batch)
    assert(streamed.size === 3)
  }

  test("streaming CDC apply materializes exactly the batch MERGE (q88)") {
    val batch = SparkEntry.queries("q88_upsert")(spark, sf)
      .collect().map(_.toSeq).toSet
    val streamed = EventsStreaming
      .cdcApplyStreaming(spark, sf, queryName = "spec_cdc")
      .collect().map(_.toSeq).toSet
    assert(streamed === batch)
    // every fate is exercised: kept base rows, updated rows, rekeyed
    // inserts — and updates win over their base version
    val byKey = streamed.groupBy(_.head).map { case (_, v) => v.size }.toSet
    assert(byKey === Set(1)) // latest-wins leaves one version per key
    assert(streamed.exists(_.last == "UPDATED"))
    assert(batch.nonEmpty)
  }

  test("scrub-on-ingest equals the batch PII audit exactly (q171 contract)") {
    val streamed = graft.streaming.EventsStreaming
      .streamingPiiScrub(spark, sf)
    val batch = graft.ops.PiiOps.piiRedact(
      graft.ops.PiiOps.plantedPiiCorpus(
        graft.io.Tables.parquet(spark, sf, "documents")))
    assert(streamed.exceptAll(batch).isEmpty)
    assert(batch.exceptAll(streamed).isEmpty)
  }

  test("extract-on-ingest equals the batch crawl flagship exactly (q176 contract)") {
    val streamed = graft.streaming.EventsStreaming
      .streamingCrawlIngest(spark, sf)
    val batch = graft.ops.HtmlOps.crawlIngest(
      graft.ops.HtmlOps.plantedHtmlCorpus(
        graft.io.Tables.parquet(spark, sf, "documents")),
      baseHostCol = Some("fetch_host"))
    assert(streamed.exceptAll(batch).isEmpty)
    assert(batch.exceptAll(streamed).isEmpty)
  }

  test("WARC-fed crawl loop (q203): framing+HTTP gates run in-stream; invalid fetches never enter the key set") {
    import org.apache.spark.sql.functions._
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val base = java.nio.file.Files.createTempDirectory("graft-warcloop-")
    try {
      val scope = graft.core.Scopes.create(spark, base.toString)
      val chunks = graft.ops.HtmlOps.plantedWarcCorpus(docs)
      val valid = graft.ops.HtmlOps.httpFrame(
          graft.ops.HtmlOps.warcFrame(chunks, "warc"))
        .filter(col("length_ok") && col("http_ok"))
        .select(col("doc_id"), col("target_uri").as("url"))
      graft.ops.HtmlOps.saveUrlKeys(
        valid.filter(col("doc_id") < 250), scope, "keys")
      val pages = graft.ops.HtmlOps.plantedHtmlCorpus(docs)
      val ranks = graft.ops.GraphOps.domainRank(
        graft.ops.HtmlOps.domainEdges(pages))
      val rules = graft.ops.HtmlOps.plantedRobotsRules(spark)
      val delays = graft.ops.HtmlOps.parseCrawlDelays(
        graft.ops.HtmlOps.plantedRobotsTxt(spark))
      val src = chunks.select(col("doc_id"), col("warc"))
      graft.streaming.EventsStreaming.writeWaveFile(
        src.filter(col("doc_id") >= 250 && col("doc_id") < 375),
        scope.path("stream-src"), 0)
      graft.streaming.EventsStreaming.writeWaveFile(
        src.filter(col("doc_id") >= 375), scope.path("stream-src"), 1)
      graft.streaming.EventsStreaming.streamingWarcCrawlLoop(spark,
        scope.path("stream-src"), scope, "keys", ranks,
        graft.ops.HtmlOps.plantedRobotsTxt(spark),
        scope.path("waves"), scope.path("ckpt"))
      // only VALID fetches entered the key set: no %13-malformed or
      // HTTP-gated doc's target key, and every valid doc's key present
      val keyed = graft.ops.HtmlOps.loadUrlKeys(spark, scope, "keys")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(keyed.nonEmpty)
      keyed.foreach(d =>
        assert(!Set(2L, 3L, 5L, 7L, 8L, 11L).contains(d % 13), d))
      // each wave equals the batch replay: BOTH discovery channels
      // (outlinks of gated bodies + 3xx Location targets) through the
      // shared admission tail + schedule — on the CARRIED clock, so
      // the replay starts from the state wave 0 left behind
      val wave1Framed = graft.ops.HtmlOps.httpFrame(
        graft.ops.HtmlOps.warcFrame(
          chunks.filter(col("doc_id") >= 375), "warc"))
      val replay1 = graft.ops.HtmlOps.scheduleWaveValidated(
        graft.ops.HtmlOps.redirectFrontierFramed(wave1Framed, scope,
          "keys", ranks, rules),
        graft.ops.HtmlOps.validatedDelays(delays),
        Some(graft.ops.HtmlOps.loadSchedState(spark,
          scope.path("schedstate"), 1)))
      val w1 = spark.read.parquet(scope.path("waves"))
        .filter(col("wave") === 1).drop("wave")
        .select(replay1.columns.map(col): _*)
      assert(w1.exceptAll(replay1).isEmpty && replay1.exceptAll(w1).isEmpty)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("gzip-fed WARC loop (q210): the binary wire format yields bit-identical waves") {
    import org.apache.spark.sql.functions._
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val base = java.nio.file.Files.createTempDirectory("graft-gziploop-")
    try {
      val chunks = graft.ops.HtmlOps.plantedWarcCorpus(docs)
      val valid = graft.ops.HtmlOps.httpFrame(
          graft.ops.HtmlOps.warcFrame(chunks, "warc"))
        .filter(col("length_ok") && col("http_ok"))
        .select(col("doc_id"), col("target_uri").as("url"))
      val ranks = graft.ops.GraphOps.domainRank(graft.ops.HtmlOps
        .domainEdges(graft.ops.HtmlOps.plantedHtmlCorpus(docs)))
      val robots = graft.ops.HtmlOps.plantedRobotsTxt(spark)
      def drive(sub: String, src: org.apache.spark.sql.DataFrame,
                gz: Boolean): org.apache.spark.sql.DataFrame = {
        val sc = graft.core.Scopes.create(spark, s"$base/$sub")
        graft.ops.HtmlOps.saveUrlKeys(
          valid.filter(col("doc_id") < 250), sc, "keys")
        graft.streaming.EventsStreaming.writeWaveFile(
          src.filter(col("doc_id") >= 250 && col("doc_id") < 375),
          sc.path("stream-src"), 0)
        graft.streaming.EventsStreaming.writeWaveFile(
          src.filter(col("doc_id") >= 375), sc.path("stream-src"), 1)
        graft.streaming.EventsStreaming.streamingWarcCrawlLoop(spark,
          sc.path("stream-src"), sc, "keys", ranks, robots,
          sc.path("waves"), sc.path("ckpt"), gzip = gz)
        spark.read.parquet(sc.path("waves"))
      }
      val textWaves = drive("text", chunks.select("doc_id", "warc"),
        gz = false).collect().map(_.toString).sorted.toSeq
      val gzipWaves = drive("gzip",
        graft.ops.HtmlOps.plantedGzipWarcCorpus(docs), gz = true)
        .collect().map(_.toString).sorted.toSeq
      assert(textWaves.nonEmpty && gzipWaves === textWaves)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("in-stream robots maintenance (q208): a flip in wave 0 changes wave 1's verdicts; restart-safe") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val base = java.nio.file.Files.createTempDirectory("graft-robotsloop-")
    try {
      val scope = graft.core.Scopes.create(spark, base.toString)
      val chunks = graft.ops.HtmlOps.plantedWarcCorpus(docs)
      val valid = graft.ops.HtmlOps.httpFrame(
          graft.ops.HtmlOps.warcFrame(chunks, "warc"))
        .filter(col("length_ok") && col("http_ok"))
        .select(col("doc_id"), col("target_uri").as("url"))
      graft.ops.HtmlOps.saveUrlKeys(
        valid.filter(col("doc_id") < 250), scope, "keys")
      val ranks = graft.ops.GraphOps.domainRank(graft.ops.HtmlOps
        .domainEdges(graft.ops.HtmlOps.plantedHtmlCorpus(docs)))
      val src = chunks.select(col("doc_id"), col("warc"))
      val flip = Seq((9000001L, graft.ops.HtmlOps.robotsWarcChunk(
        "s3.example",
        "User-agent: *\nDisallow: /nav\nDisallow: /NAV\nCrawl-delay: 7\n")))
        .toDF("doc_id", "warc")
      graft.streaming.EventsStreaming.writeWaveFile(
        src.filter(col("doc_id") >= 250 && col("doc_id") < 375)
          .unionByName(flip),
        scope.path("stream-src"), 0)
      graft.streaming.EventsStreaming.writeWaveFile(
        src.filter(col("doc_id") >= 375), scope.path("stream-src"), 1)
      def run(): Unit =
        graft.streaming.EventsStreaming.streamingWarcCrawlLoop(spark,
          scope.path("stream-src"), scope, "keys", ranks,
          graft.ops.HtmlOps.plantedRobotsTxt(spark),
          scope.path("waves"), scope.path("ckpt"))
      run()
      val waves = spark.read.parquet(scope.path("waves"))
      // the flip rode wave 0, whose own policy is the SEED (s3 has no
      // rules there): wave 0 still admits s3 nav links...
      val s3w0 = waves.filter(col("wave") === 0 &&
        col("domain") === "s3.example").collect()
      assert(s3w0.exists(
        _.getAs[String]("canon").toLowerCase.contains("/nav")))
      assert(s3w0.forall(_.getAs[Long]("delay_s") === 35L))
      // ...and wave 1's gate runs under the FLIPPED policy: no nav
      // link admitted, the new Crawl-delay scheduled
      val s3w1 = waves.filter(col("wave") === 1 &&
        col("domain") === "s3.example").collect()
      assert(s3w1.nonEmpty)
      assert(!s3w1.exists(
        _.getAs[String]("canon").toLowerCase.contains("/nav")))
      assert(s3w1.forall(_.getAs[Long]("delay_s") === 7L))
      // every other domain's policy is untouched by the flip
      assert(waves.filter(col("domain") =!= "s3.example" &&
        col("delay_s") === 7L).count() === 0)
      // the maintained artifact holds the flip after wave 0 and the
      // seed before it
      val st1 = graft.ops.HtmlOps.loadRobotsState(spark,
        scope.path("robotsstate"), 1,
        graft.ops.HtmlOps.plantedRobotsTxt(spark))
      assert(st1.filter(col("domain") === "s3.example" &&
        col("robots_txt").contains("Crawl-delay: 7")).count() === 1)
      // restart on the same checkpoint replays nothing and changes
      // nothing: waves and robots state byte-identical
      def snap() = (waves.collect().map(_.toString).sorted.toSeq,
        st1.collect().map(_.toString).sorted.toSeq)
      val before = snap()
      run()
      assert(snap() === before)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("streamed retry gate (q214): defer, age out, re-compete; restart is a no-op") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val base = java.nio.file.Files.createTempDirectory("graft-retryloop-")
    try {
      val scope = graft.core.Scopes.create(spark, base.toString)
      val chunks = graft.ops.HtmlOps.plantedWarcCorpus(docs)
      val valid = graft.ops.HtmlOps.httpFrame(
          graft.ops.HtmlOps.warcFrame(chunks, "warc"))
        .filter(col("length_ok") && col("http_ok") && col("body_ok"))
        .select(col("doc_id"), col("target_uri").as("url"))
      graft.ops.HtmlOps.saveUrlKeys(
        valid.filter(col("doc_id") < 250), scope, "keys")
      graft.ops.HtmlOps.saveFetchLog(
        Seq.empty[(String, Long)].toDF("url", "fetched_at_s"),
        scope, "attempts")
      val ranks = graft.ops.GraphOps.domainRank(graft.ops.HtmlOps
        .domainEdges(graft.ops.HtmlOps.plantedHtmlCorpus(docs)))
      val slice = chunks.select(col("doc_id"), col("warc"))
        .filter(col("doc_id") >= 250 && col("doc_id") < 375)
      def redate(d: String) = slice.withColumn("warc",
        regexp_replace(col("warc"), "(?m)^WARC-Date: [^\\r\\n]+",
          "WARC-Date: " + d))
      graft.streaming.EventsStreaming.writeWaveFile(
        redate("2026-02-01T00:00:00Z"), scope.path("stream-src"), 0)
      graft.streaming.EventsStreaming.writeWaveFile(
        redate("2026-02-03T00:00:00Z"), scope.path("stream-src"), 1)
      graft.streaming.EventsStreaming.writeWaveFile(
        redate("2026-02-08T00:00:00Z"), scope.path("stream-src"), 2)
      def run(): Unit =
        graft.streaming.EventsStreaming.streamingWarcCrawlLoop(spark,
          scope.path("stream-src"), scope, "keys", ranks,
          graft.ops.HtmlOps.plantedRobotsTxt(spark),
          scope.path("waves"), scope.path("ckpt"),
          attempts = Some(("attempts", 3L * 86400L)))
      run()
      val waves = spark.read.parquet(scope.path("waves"))
      def canons(w: Int) = waves.filter(col("wave") === w)
        .select("canon").as[String].collect().toSet
      val (c0, c1, c2) = (canons(0), canons(1), canons(2))
      // DEFER: wave 1 (2 days later, TTL 3 days) re-dispatches NONE
      // of wave 0's stamped canons — its slots go to the cap losers
      assert(c0.nonEmpty)
      assert((c0 & c1).isEmpty)
      // AGE OUT + RE-COMPETE: by wave 2 every stamp (wave 0's at +7d,
      // wave 1's at +5d) is stale, so the original winners are back
      assert(c2 === c0)
      // the attempt log carries every dispatched slot at its
      // dispatch instant (clock = the wave's latest WARC-Date)
      val att = graft.ops.HtmlOps.loadFetchLog(spark, scope, "attempts")
      assert(att.count() > 0)
      val feb1 = 1769904000L // 2026-02-01T00:00:00Z
      assert(att.filter(col("last_fetch_s") < feb1).count() === 0)
      // restart on the same checkpoint replays nothing: waves and
      // attempt log byte-identical (the strictly-before-now gate is
      // what keeps a replayed wave from deferring its own stamps)
      def snap() = (waves.collect().map(_.toString).sorted.toSeq,
        att.collect().map(_.toString).sorted.toSeq)
      val before = snap()
      run()
      assert(snap() === before)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("streaming crawl loop (q192): waves match their batch replay; restart is a no-op") {
    import org.apache.spark.sql.functions._
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val base = java.nio.file.Files.createTempDirectory("graft-loop-")
    try {
      val scope = graft.core.Scopes.create(spark, base.toString)
      val urls = graft.ops.HtmlOps.plantedDirtyUrlCorpus(docs)
      val pages = graft.ops.HtmlOps.plantedHtmlCorpus(docs)
      val ranks = graft.ops.GraphOps.domainRank(
        graft.ops.HtmlOps.domainEdges(pages))
      val rules = graft.ops.HtmlOps.plantedRobotsRules(spark)
      val delays = graft.ops.HtmlOps.parseCrawlDelays(
        graft.ops.HtmlOps.plantedRobotsTxt(spark))
      graft.ops.HtmlOps.saveUrlKeys(
        urls.filter(col("doc_id") < 250), scope, "keys")
      val src = pages.join(urls, "doc_id")
        .select(col("doc_id"), col("url"), col("fetch_host"), col("html"),
          (lit(1767225600L) + (col("doc_id") % 97) * 3600L)
            .as("fetched_at_s"))
      graft.ops.HtmlOps.saveFetchLog(
        src.filter(col("doc_id") < 250).select("url", "fetched_at_s"),
        scope, "flog")
      graft.streaming.EventsStreaming.writeWaveFile(
        src.filter(col("doc_id") >= 250 && col("doc_id") < 375),
        scope.path("stream-src"), 0)
      graft.streaming.EventsStreaming.writeWaveFile(
        src.filter(col("doc_id") >= 375), scope.path("stream-src"), 1)
      val ttl = 48L * 3600L
      def run(): Unit = graft.streaming.EventsStreaming.streamingCrawlLoop(
        spark, scope.path("stream-src"), scope, "keys", ranks, rules,
        delays, scope.path("waves"), scope.path("ckpt"),
        fetchLogName = Some("flog"),
        refetch = Some((ttl, scope.path("refetch"))))
      run()
      val waves = spark.read.parquet(scope.path("waves"))
      // loop order inside each batch: keys FIRST, wave second — so a
      // wave never schedules anything fetched up to and including its
      // own batch (wave 1 runs against ALL 500 keys)
      val allKeys = graft.ops.HtmlOps.loadUrlKeys(spark, scope, "keys")
        .select("canon").collect().map(_.getString(0)).toSet
      assert(allKeys.size > 250, "second batch never appended")
      waves.filter(col("wave") === 1).collect()
        .foreach(r => assert(!allKeys.contains(r.getAs[String]("canon"))))
      // each wave equals its batch replay bit-for-bit: the stream is
      // the batch operator pipeline (polite frontier ∘ schedule)
      // under a scheduler — on the CARRIED clock, so the replay
      // starts from the state batch 0 left behind (q207)
      val vd = graft.ops.HtmlOps.validatedDelays(delays)
      val st1 = graft.ops.HtmlOps.loadSchedState(spark,
        scope.path("schedstate"), 1)
      val replay1 = graft.ops.HtmlOps.scheduleWaveValidated(
        graft.ops.HtmlOps.politeFrontier(
          pages.filter(col("doc_id") >= 375), scope, "keys", ranks, rules),
        vd, Some(st1))
      val w1 = waves.filter(col("wave") === 1).drop("wave")
        .select(replay1.columns.map(col): _*)
      assert(w1.exceptAll(replay1).isEmpty && replay1.exceptAll(w1).isEmpty)
      // the wave is a SCHEDULE on the global dispatch clock: slot n
      // fires at carried_start + (n-1) x the domain's parsed delay —
      // wave 0 carries nothing, so its slot-1 rows fire at 0
      waves.filter(col("wave") === 0).collect().foreach { r =>
        assert(r.getAs[Long]("not_before_s") ===
          (r.getAs[Int]("slot") - 1).toLong * r.getAs[Long]("delay_s"))
      }
      // the loop MAINTAINED the fetch log: the artifact equals the
      // one-shot latest-fetch reduction over seed + both waves
      val fromLoop = graft.ops.HtmlOps.loadFetchLog(spark, scope, "flog")
        .select("canon", "url", "last_fetch_s").collect()
        .map(_.toString).sorted.toSeq
      graft.ops.HtmlOps.saveFetchLog(src.select("url", "fetched_at_s"),
        scope, "oneshot")
      val oneShot = graft.ops.HtmlOps.loadFetchLog(spark, scope, "oneshot")
        .select("canon", "url", "last_fetch_s").collect()
        .map(_.toString).sorted.toSeq
      assert(fromLoop === oneShot)
      // both waves landed, and wave 0 is the thinner candidate pool
      val n0 = waves.filter(col("wave") === 0).count()
      val n1 = waves.filter(col("wave") === 1).count()
      assert(n0 > 0 && n1 > 0)
      // the STEADY STATE: each wave also emitted the scheduled refetch
      // of the log's stale keys — equal to the batch replay over the
      // log state as of that wave, at that wave's own "now"
      val refetches = spark.read.parquet(scope.path("refetch"))
      assert(refetches.count() > 0)
      val now1 = src.filter(col("doc_id") >= 375)
        .agg(max(col("fetched_at_s"))).head().getLong(0)
      // the refetch arm continues the SAME clock the discovery wave
      // advanced: its replay starts from state@0 advanced by the
      // written discovery wave 1
      val stR1 = graft.ops.HtmlOps.advanceSchedState(
        waves.filter(col("wave") === 1), st1)
      val replayR1 = graft.ops.HtmlOps.scheduleWaveValidated(
        graft.ops.HtmlOps.refetchWaveFromLog(spark, scope, "flog",
          now1, ttl, ranks), vd, Some(stR1))
      val r1 = refetches.filter(col("wave") === 1).drop("wave")
        .select(replayR1.columns.map(col): _*)
      assert(r1.exceptAll(replayR1).isEmpty && replayR1.exceptAll(r1).isEmpty)
      // the q207 politeness INVARIANT, across every wave boundary:
      // for each domain, walk the loop's dispatch stages in clock
      // order — no later stage ever schedules a fetch earlier than
      // the domain's OWN previous stage's tail plus its delay. Per
      // DOMAIN sequence, not adjacent-stage pairs: a domain absent
      // from an intermediate stage must still carry its tail across
      // the gap (the coalesce fallback in advanceSchedState)
      val stages = Seq(
        waves.filter(col("wave") === 0), refetches.filter(col("wave") === 0),
        waves.filter(col("wave") === 1), refetches.filter(col("wave") === 1))
        .map(_.select("domain", "not_before_s", "delay_s").collect()
          .groupBy(_.getString(0)))
      val allDomains = stages.flatMap(_.keys).toSet
      allDomains.foreach { dom =>
        val present = stages.flatMap(_.get(dom)) // this domain's stages
        present.sliding(2).foreach {
          case Seq(prevRows, rows) =>
            val tail = prevRows.map(_.getLong(1)).max
            val delay = prevRows.head.getLong(2)
            val first = rows.map(_.getLong(1)).min
            assert(first >= tail + delay,
              s"$dom: next stage at $first inside delay of tail $tail + $delay")
          case _ => ()
        }
      }
      // every due key aged at least the TTL at its wave's own "now" —
      // pure log-clock staleness (this fixture's synthetic within-wave
      // spread exceeds the TTL, so some due keys WERE upserted by the
      // same wave; the log's truth, documented on the loop)
      refetches.collect().foreach(r =>
        assert(r.getAs[Long]("age_s") >= ttl, r.toString))
      // the steady state never double-schedules: discovery anti-joins
      // the FETCHED keys, refetch schedules ONLY fetched keys — the
      // two waves are disjoint by construction, pinned here
      val discoveryCanons = waves.select("canon").collect()
        .map(_.getString(0)).toSet
      val refetchCanons = refetches.select("canon").collect()
        .map(_.getString(0)).toSet
      assert(discoveryCanons.intersect(refetchCanons).isEmpty)
      // RESTART: AvailableNow over a fully processed checkpoint must
      // re-ingest nothing and rewrite nothing — key set, fetch log,
      // and wave bytes identical (the replay-safety claim, exercised)
      val keysBefore = graft.ops.HtmlOps.loadUrlKeys(spark, scope, "keys")
        .collect().map(_.toString).sorted
      val logBefore = fromLoop
      val wavesBefore = spark.read.parquet(scope.path("waves"))
        .collect().map(_.toString).sorted
      // snapshot EAGERLY before the restart — a lazy DataFrame
      // re-collected afterwards would compare post-restart state with
      // itself and prove nothing
      val refetchBefore = refetches.collect().map(_.toString).sorted
      run()
      val keysAfter = graft.ops.HtmlOps.loadUrlKeys(spark, scope, "keys")
        .collect().map(_.toString).sorted
      val logAfter = graft.ops.HtmlOps.loadFetchLog(spark, scope, "flog")
        .select("canon", "url", "last_fetch_s").collect()
        .map(_.toString).sorted.toSeq
      val wavesAfter = spark.read.parquet(scope.path("waves"))
        .collect().map(_.toString).sorted
      assert(keysAfter.toSeq === keysBefore.toSeq)
      assert(logAfter === logBefore)
      assert(wavesAfter.toSeq === wavesBefore.toSeq)
      val refetchAfter = spark.read.parquet(scope.path("refetch"))
        .collect().map(_.toString).sorted
      assert(refetchAfter.toSeq === refetchBefore.toSeq)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }
}
