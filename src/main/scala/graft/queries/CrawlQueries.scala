package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops._
import graft.queries.DuckSql._
import graft.queries.QueryDef.t
import graft.streaming.EventsStreaming

/** Crawl-frontier queries q187–q228: frontiers over the key-set and
  * rank artifacts, robots and politeness gates, refetch and sitemap
  * waves, redirect chains, WARC loops and crawl budgets.
  */
private[graft] object CrawlQueries {
  private final val family = "crawl"

  /** HtmlOps.plantedParamUrlCorpus's URL expression — the dirty
    * corpus with allowlisted params (`id`, `page`) planted out of
    * sorted order next to the tracking ones, plus the mod-17
    * unparseable `mailto:` leg.
    */
  private lazy val duckParamUrl =
    """case when doc_id % 17 = 9 then
      |   concat('mailto:u', cast(doc_id as varchar), '@y.example?id=1')
      | else concat(
      |  case when doc_id % 2 = 0 then 'HTTPS://WWW.W'
      |       else 'https://w' end,
      |  cast(doc_id % 7 as varchar), '.s', cast(doc_id % 5 as varchar),
      |  case when doc_id % 2 = 0 then '.EXAMPLE:443'
      |       else '.example' end,
      |  '/p/', cast(doc_id % 11 as varchar),
      |  case when doc_id % 4 = 2
      |       then concat('?utm_source=x&id=', cast(doc_id % 3 as varchar))
      |       when doc_id % 4 = 0
      |       then concat('?page=', cast(doc_id % 2 as varchar),
      |                   '&utm_campaign=y&id=', cast(doc_id % 3 as varchar))
      |       else '' end,
      |  case when doc_id % 5 = 1 then '#sec2' else '' end) end"""
      .stripMargin

  /** HtmlOps.canonicalUrlParams mirrored: the aggressive key plus the
    * sorted allowlisted `name=value` params (list pipeline over the
    * split query string, names via the 1-indexed split head).
    */
  private def duckCanonParamsOf(u: String, allow: Seq[String]): String = {
    val lst = allow.map(a => s"'$a'").mkString(", ")
    // coalesce is LOAD-BEARING: DuckDB's array_to_string on an EMPTY
    // list returns NULL (Spark's array_join returns ''), and concat
    // would then silently SKIP the NULL kept-list, leaving a bare '?'
    // (regexp_extract itself returns '' on no match, same as Spark)
    val kept =
      s"""coalesce(array_to_string(list_sort(list_filter(
         |  string_split(regexp_extract($u, '^[^#]*\\?([^#]*)', 1), '&'),
         |  p -> list_contains([$lst], string_split(p, '=')[1]))), '&'), '')"""
        .stripMargin
    s"""CASE WHEN ${duckCanonStrippedHost(u)} = '' THEN $u
       |     WHEN $kept = '' THEN ${duckCanonOf(u)}
       |     ELSE concat(${duckCanonOf(u)}, '?', $kept) END""".stripMargin
  }

  /** A stream loop's per-batch output `name` under `scope`, wave ids
    * as longs.
    */
  private def loopWaves(s: SparkSession, scope: graft.core.Scope,
                        name: String): DataFrame =
    s.read.parquet(scope.path(name)).withColumn("wave", col("wave").cast("long"))

  /** The "urlkeys" artifact seeded from the first 250 WARC records
    * that frame cleanly (length, HTTP status and body all check).
    */
  private def seedWarcKeys(chunks: DataFrame, sc: graft.core.Scope): Unit =
    HtmlOps.saveUrlKeys(HtmlOps.httpFrame(HtmlOps.warcFrame(chunks, "warc"))
      .filter(col("length_ok") && col("http_ok") && col("body_ok"))
      .filter(col("doc_id") < 250)
      .select(col("doc_id"), col("target_uri").as("url")), sc, "urlkeys")

  /** The stream source of a two-batch loop: fetches [250, 375) as
    * wave 0 and [375, 500) as wave 1, one file each.
    */
  private def writeTwoWaves(src: DataFrame, sc: graft.core.Scope): Unit = {
    EventsStreaming.writeWaveFile(
      src.filter(col("doc_id") >= 250 && col("doc_id") < 375),
      sc.path("stream-src"), 0)
    EventsStreaming.writeWaveFile(
      src.filter(col("doc_id") >= 375), sc.path("stream-src"), 1)
  }

  /** Wave 1 of q213/q218: the clean WARC fetches at `t0` seed the
    * "fetchlog" artifact (with their validators) and the content
    * store. The framed wave is pinned once because it feeds both, so
    * the framing and wire decode run once, not per consumer.
    */
  private def seedFetchLogAndContent(docs: DataFrame, sc: graft.core.Scope,
                                     t0: Long): Unit = {
    val framed1 = HtmlOps.httpFrame(HtmlOps.warcFrame(
        HtmlOps.plantedWarcCorpus(docs), "warc"))
      .filter(col("length_ok") && col("http_ok") && col("body_ok"))
      .select(col("doc_id"), col("target_uri"), col("etag"),
        col("last_modified"), col("body"))
      .localCheckpoint(eager = true)
    HtmlOps.saveFetchLog(
      framed1.select(col("target_uri").as("url"),
        lit(t0).as("fetched_at_s"), col("etag"), col("last_modified")),
      sc, "fetchlog")
    HtmlOps.appendContentVersions(
      framed1.select(
        HtmlOps.canonicalUrl(col("target_uri")).as("canon"),
        col("body"), lit(t0).as("content_fetch_s")),
      sc.path("content"))
  }

  /** The planted raw fetch log absorbed into the bucketed "flog"
    * artifact: log ids below 1000 saved, the rest appended.
    */
  private def saveFlog(docs: DataFrame, sc: graft.core.Scope): Unit = {
    val log = HtmlOps.plantedFetchLog(docs)
    HtmlOps.saveFetchLog(
      log.filter(col("log_id") < 1000L).select("url", "fetched_at_s"),
      sc, "flog")
    HtmlOps.appendFetchLog(
      log.filter(col("log_id") >= 1000L).select("url", "fetched_at_s"),
      sc, "flog")
  }

  /** q192: the loop driven end-to-end — the key set AND the fetch-log
    * artifact seeded from the first 250 fetches, waves [250, 375) and
    * [375, 500) streamed as two micro-batches (one file each, the
    * q138 one-file-one-batch convention); each batch appends its
    * keys, upserts its fetch times into the log, and writes its next
    * SCHEDULED wave (politeness slots with Crawl-delay offsets) under
    * `waves/wave=<batchId>`. The epoch rank, the robots rules, and
    * the parsed delays are computed once, OUTSIDE the stream (the
    * q188 artifact contract).
    */
  private def streamCrawlLoopQuery(s: SparkSession, dir: String): DataFrame =
    loopWaves(s, q192Scope(s, dir), "waves")

  /** q202: the loop's REFETCH side — the same driven run as q192
    * (shared scope), reading the per-batch refetch schedules: every
    * wave re-schedules the keys whose maintained-log age passed the
    * TTL at that wave's own latest fetch time.
    */
  private def steadyRefetchQuery(s: SparkSession, dir: String): DataFrame =
    loopWaves(s, q192Scope(s, dir), "refetch-waves")

  private def q192Scope(s: SparkSession, dir: String): graft.core.Scope = {
    val docs = t(s, dir, "documents")
    Memo.scope("graft-q192-", s, dir) { sc =>
      val urls = HtmlOps.plantedDirtyUrlCorpus(docs)
      val pages = HtmlOps.plantedHtmlCorpus(docs)
      HtmlOps.saveUrlKeys(urls.filter(col("doc_id") < 250), sc, "urlkeys")
      val src = pages.join(urls, "doc_id")
        .select(col("doc_id"), col("url"), col("fetch_host"), col("html"),
          (lit(1767225600L) + (col("doc_id") % 97) * 3600L)
            .as("fetched_at_s")) // the q196 planted first-fetch times
      HtmlOps.saveFetchLog(
        src.filter(col("doc_id") < 250).select("url", "fetched_at_s"),
        sc, "fetchlog")
      writeTwoWaves(src, sc)
      EventsStreaming.streamingCrawlLoop(s, sc.path("stream-src"), sc,
        "urlkeys", epochRanks(s, dir), HtmlOps.plantedRobotsRules(s),
        HtmlOps.parseCrawlDelays(HtmlOps.plantedRobotsTxt(s)),
        sc.path("waves"), sc.path("ckpt"),
        fetchLogName = Some("fetchlog"),
        refetch = Some((48L * 3600L, sc.path("refetch-waves"))))
    }
  }

  /** The q200 maintained-log scope — the planted raw log absorbed
    * save+append into the bucketed "flog" artifact; built once per
    * (process, sf dir) and shared READ-ONLY by q200's TTL wave and
    * q223's lastmod wave (same artifact, two scheduling policies).
    */
  private def q200Scope(s: SparkSession, dir: String): graft.core.Scope =
    Memo.scope("graft-q200-", s, dir)(saveFlog(t(s, dir, "documents"), _))

  /** q200: the maintained fetch-log artifact driven batch-wise — the
    * seed wave is the planted FIRST fetches, the refetch rows arrive
    * as a second O(batch) upsert (the cross-batch latest-fetch max is
    * exactly what the artifact must maintain), and the due set reads
    * the artifact. The oracle is q196's raw-log replay VERBATIM: the
    * maintained artifact changes where the reduction lives, never
    * what it says (max-merge associativity).
    */
  private def fetchLogWaveQuery(s: SparkSession, dir: String): DataFrame =
    HtmlOps.refetchWaveFromLog(s, q200Scope(s, dir), "flog",
      nowS = 1767225600L + 9L * 86400L, ttlS = 7L * 86400L,
      ranks = epochRanks(s, dir))

  /** q209: the q200 maintained-log chain plus the EPOCH compaction
    * pass ([[graft.ops.HtmlOps.compactFetchLog]]) before the read —
    * the refetch wave must be bit-identical to q200's/q196's
    * (compaction changes file counts, never rows), which the shared
    * oracle enforces. The same epoch also PRUNES the versioned
    * tiny-state artifacts ([[graft.ops.HtmlOps.pruneWaveStates]] —
    * superseded `wave=<N` dirs drop, the latest carries everything
    * forward; a pruned loop restarts identically, spec-pinned).
    */
  private def compactedFetchLogQuery(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val scope = Memo.scope("graft-q209-", s, dir) { sc =>
      saveFlog(docs, sc)
      HtmlOps.compactFetchLog(s, sc, "flog")
      // the epoch's state-artifact prune, exercised on a carried
      // schedstate history: waves 0..2 accumulate, the epoch keeps
      // only the latest (wave 2 folds everything earlier)
      val stDir = sc.path("schedstate")
      import s.implicits._
      (0L to 2L).foreach { w =>
        HtmlOps.saveSchedState(
          Seq(("s0.example", 100L * (w + 1))).toDF("domain", "next_allowed_s"),
          stDir, w)
      }
      val dropped = HtmlOps.pruneWaveStates(s, stDir)
      require(dropped == Seq(0L, 1L), s"unexpected prune set: $dropped")
      require(HtmlOps.loadSchedState(s, stDir, beforeWave = 99L)
        .head().getLong(1) == 300L, "latest state must survive the prune")
    }
    HtmlOps.refetchWaveFromLog(s, scope, "flog",
      nowS = 1767225600L + 9L * 86400L, ttlS = 7L * 86400L,
      ranks = epochRanks(s, dir))
  }

  /** q207: the carried dispatch clock in batch form — two polite
    * waves over page halves, the second scheduled from the state the
    * first left behind ([[graft.ops.HtmlOps.advanceSchedState]]), so
    * a domain in both waves never gets wave-1 fetches scheduled
    * inside its Crawl-delay of wave 0's tail.
    */
  private def carriedScheduleQuery(s: SparkSession, dir: String): DataFrame = {
    val pages = HtmlOps.plantedHtmlCorpus(t(s, dir, "documents"))
    val scope = frontierScope(s, dir)
    val rules = HtmlOps.plantedRobotsRules(s)
    val d = HtmlOps.validatedDelays(
      HtmlOps.parseCrawlDelays(HtmlOps.plantedRobotsTxt(s)))
    val ranks = epochRanks(s, dir)
    val w0 = HtmlOps.scheduleWaveValidated(
        HtmlOps.politeFrontier(pages.filter(col("doc_id") < 250),
          scope, "urlkeys", ranks, rules), d)
      // feeds the output AND the state; lazy — the first consumer's
      // job materializes it, no separate up-front round-trip
      .localCheckpoint(eager = false)
    val st = HtmlOps.advanceSchedState(w0, HtmlOps.emptySchedState(s))
    val w1 = HtmlOps.scheduleWaveValidated(
      HtmlOps.politeFrontier(pages.filter(col("doc_id") >= 250),
        scope, "urlkeys", ranks, rules), d, Some(st))
    w0.withColumn("wave", lit(0L)).unionByName(
      w1.withColumn("wave", lit(1L)))
  }

  /** q211: the retry gate driven like a dispatcher would — wave 0's
    * scheduled URLs become the ATTEMPT log (even slots stamped at T0,
    * odd slots two TTLs earlier), and the next wave over the SAME
    * archive defers exactly the fresh attempts: even-slot canons
    * vanish, odd-slot canons (aged out) and the previous wave's
    * cap losers compete for the freed slots.
    */
  private def retryFrontierQuery(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val chunks = HtmlOps.plantedWarcCorpus(docs)
    val t0 = 1767225600L
    val ttl = 86400L
    val scope = Memo.scope("graft-q211-", s, dir) { sc =>
      seedWarcKeys(chunks, sc)
      val wave0 = HtmlOps.redirectFrontier(chunks, sc, "urlkeys",
        epochRanks(s, dir), HtmlOps.plantedRobotsRules(s))
      HtmlOps.saveFetchLog(
        wave0.select(col("url"),
          when(col("slot") % 2 === 0, lit(t0))
            .otherwise(lit(t0 - 2L * ttl)).as("fetched_at_s")),
        sc, "attempts")
    }
    HtmlOps.retryGatedFrontier(chunks, scope, "urlkeys", "attempts",
      nowS = t0 + 3600L, retryTtlS = ttl, ranks = epochRanks(s, dir),
      rules = HtmlOps.plantedRobotsRules(s))
  }

  /** q213: the conditional-refetch steady state driven end to end —
    * wave 1's valid fetches seed the maintained fetch log (WITH their
    * ETag validators) and the content store; the revalidation wave
    * (even docs 304, odd docs 200-with-new-content) applies through
    * [[graft.ops.HtmlOps.applyRevalidation]]: every completed outcome
    * refreshes clock + validator (struct-max upsert — O(batch), no
    * bookkeeping), only 200 bodies append content versions. Output:
    * per canon, the refreshed clock, the surviving validator, and the
    * content hash — 304-only canons keep their wave-1 bytes
    * bit-identically (the clock moved, the corpus did not).
    */
  private def conditionalRefetchQuery(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val t0 = 1767225600L
    val t1 = t0 + 7L * 86400L
    val scope = Memo.scope("graft-q213-", s, dir) { sc =>
      seedFetchLogAndContent(docs, sc, t0)
      val framed2 = HtmlOps.httpFrame(HtmlOps.warcFrame(
        HtmlOps.plantedRevalidationCorpus(docs), "warc"))
      HtmlOps.applyRevalidation(
        HtmlOps.revalidationOutcomes(framed2, lit(t1)),
        sc, "fetchlog", sc.path("content"))
    }
    HtmlOps.loadFetchLog(s, scope, "fetchlog")
      .join(HtmlOps.latestContent(s, scope.path("content")),
        Seq("canon"), "left")
      .select(col("canon"), col("url"), col("last_fetch_s"), col("etag"),
        col("last_modified"),
        md5(encode(coalesce(col("body"), lit("")), "UTF-8"))
          .as("content_md5"))
  }

  /** q218: WARC `revisit` records resolved through the fetch log and
    * content store — wave 1 seeds both (the q213 seeding verbatim),
    * then the revisit wave applies: digest-confirmed revisits reset
    * the staleness clock WITHOUT touching validators or content;
    * lying digests and absent revisits leave the canon untouched.
    * Output per canon: the post-wave log state, the stored content
    * hash (bit-identical to wave 1 in every case — a revisit never
    * writes content), and the revisit verdict.
    */
  private def warcRevisitQuery(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val t0 = 1767225600L
    val t2 = t0 + 14L * 86400L
    val scope = Memo.scope("graft-q218-", s, dir) { sc =>
      seedFetchLogAndContent(docs, sc, t0)
      HtmlOps.applyRevisits(
        HtmlOps.warcRevisits(HtmlOps.plantedRevisitCorpus(docs), "warc"),
        sc, "fetchlog", sc.path("content"), lit(t2))
        .write.mode("overwrite").parquet(sc.path("revisits"))
    }
    val verdicts = s.read.parquet(scope.path("revisits"))
      .select(col("canon"), col("revisit_ok"))
    HtmlOps.loadFetchLog(s, scope, "fetchlog")
      .join(HtmlOps.latestContent(s, scope.path("content")),
        Seq("canon"), "left")
      .join(verdicts, Seq("canon"), "left")
      .select(col("canon"), col("url"), col("last_fetch_s"), col("etag"),
        col("last_modified"),
        md5(encode(coalesce(col("body"), lit("")), "UTF-8"))
          .as("content_md5"),
        coalesce(col("revisit_ok"), lit(false)).as("revisit_ok"))
  }

  /** q214: the q203 loop with the RETRY GATE on — the same archive
    * slice [250, 375) re-presented as three waves whose WARC-Dates
    * advance (Feb 1 / Feb 3 / Feb 8; retry TTL 3 days), so the
    * dispatch clock the attempt log keys on actually moves. Wave 0
    * dispatches the fresh candidates and stamps them; wave 1 (2 days
    * later — inside the TTL) DEFERS every stamped canon, so its slots
    * go to wave 0's politeness-cap losers (which were never
    * dispatched — correct crawl behavior, not a leak); wave 2 (5+
    * days after every stamp) re-admits everything aged out, and the
    * winners are wave 0's again, offsets continuing on the carried
    * clock. Keys never change across the waves (each re-append
    * anti-joins to nothing), so the defer/age-out behavior is
    * attributable to the attempt log alone.
    */
  private def streamRetryLoopQuery(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val scope = Memo.scope("graft-q214-", s, dir) { sc =>
      import s.implicits._
      val chunks = HtmlOps.plantedWarcCorpus(docs)
      seedWarcKeys(chunks, sc)
      // an EMPTY attempt log: the table + meta exist before wave 0
      HtmlOps.saveFetchLog(
        Seq.empty[(String, Long)].toDF("url", "fetched_at_s"),
        sc, "attempts")
      val slice = chunks.select(col("doc_id"), col("warc"))
        .filter(col("doc_id") >= 250 && col("doc_id") < 375)
      def redate(d: String) = slice.withColumn("warc",
        regexp_replace(col("warc"), "(?m)^WARC-Date: [^\\r\\n]+",
          "WARC-Date: " + d))
      EventsStreaming.writeWaveFile(redate("2026-02-01T00:00:00Z"),
        sc.path("stream-src"), 0)
      EventsStreaming.writeWaveFile(redate("2026-02-03T00:00:00Z"),
        sc.path("stream-src"), 1)
      EventsStreaming.writeWaveFile(redate("2026-02-08T00:00:00Z"),
        sc.path("stream-src"), 2)
      EventsStreaming.streamingWarcCrawlLoop(s, sc.path("stream-src"),
        sc, "urlkeys", epochRanks(s, dir), HtmlOps.plantedRobotsTxt(s),
        sc.path("waves"), sc.path("ckpt"),
        attempts = Some(("attempts", 3L * 86400L)))
    }
    loopWaves(s, scope, "waves")
  }

  /** q210: the q203 chain with the stream carrying the WIRE format —
    * binary per-record-gzip chunks inflated in-stream. Same key-set
    * seeding, same waves, same everything downstream; the oracle is
    * q203's verbatim because inflate-then-frame must be bit-identical
    * to framing the uncompressed chunk (the q206 contract, now under
    * Structured Streaming).
    */
  private def streamGzipLoopQuery(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val scope = Memo.scope("graft-q210-", s, dir) { sc =>
      val chunks = HtmlOps.plantedWarcCorpus(docs)
      seedWarcKeys(chunks, sc)
      val src = HtmlOps.plantedGzipWarcCorpus(docs)
      writeTwoWaves(src, sc)
      EventsStreaming.streamingWarcCrawlLoop(s, sc.path("stream-src"),
        sc, "urlkeys", epochRanks(s, dir), HtmlOps.plantedRobotsTxt(s),
        sc.path("waves"), sc.path("ckpt"), gzip = true)
    }
    loopWaves(s, scope, "waves")
  }

  /** q208: the WARC loop with IN-STREAM robots maintenance — wave 0's
    * chunks include a `/robots.txt` fetch for `s3.example` (which the
    * seed leaves ruleless, Crawl-delay 35) declaring `Disallow:
    * /nav`+`/NAV` and `Crawl-delay: 7`; the maintained artifact
    * re-parses it into wave 1's gate and scheduler, so wave 1 admits
    * no s3 nav link (its slots go to the about/page candidates the
    * navs outranked) and schedules s3 seven seconds apart. The oracle
    * replays wave 1 under the FLIPPED rule/delay tables.
    */
  private def streamRobotsLoopQuery(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val scope = Memo.scope("graft-q208-", s, dir) { sc =>
      val chunks = HtmlOps.plantedWarcCorpus(docs)
      seedWarcKeys(chunks, sc)
      val src = chunks.select(col("doc_id"), col("warc"))
      import s.implicits._
      val flip = Seq((9000001L, HtmlOps.robotsWarcChunk("s3.example",
        "User-agent: *\nDisallow: /nav\nDisallow: /NAV\n" +
          "Crawl-delay: 7\n")))
        .toDF("doc_id", "warc")
      EventsStreaming.writeWaveFile(
        src.filter(col("doc_id") >= 250 && col("doc_id") < 375)
          .unionByName(flip),
        sc.path("stream-src"), 0)
      EventsStreaming.writeWaveFile(
        src.filter(col("doc_id") >= 375), sc.path("stream-src"), 1)
      EventsStreaming.streamingWarcCrawlLoop(s, sc.path("stream-src"),
        sc, "urlkeys", epochRanks(s, dir), HtmlOps.plantedRobotsTxt(s),
        sc.path("waves"), sc.path("ckpt"))
    }
    loopWaves(s, scope, "waves")
  }

  /** q205: the redirect-aware frontier over the planted archive in a
    * MATURE-crawl state — the key set holds every valid fetch AND
    * every URL those pages link (all already discovered and fetched),
    * so the outlink channel is exhausted and the /r/ redirect targets
    * — which nothing links — are the only fresh candidates. That is
    * precisely the state where a crawler without redirect discovery
    * stalls: content keeps moving, nothing new gets found.
    */
  private def redirectFrontierQuery(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val chunks = HtmlOps.plantedWarcCorpus(docs)
    val scope = Memo.scope("graft-q205-", s, dir) { sc =>
      // pinned once: the seed reads the framed archive through TWO
      // derivations (valid target URIs + resolved outlinks) — without
      // the pin each re-runs framing + wire decode from the scan
      // (round-14 verdict #1)
      val framed = HtmlOps.httpFrame(HtmlOps.warcFrame(chunks, "warc"))
        .filter(col("length_ok") && col("http_ok") &&
          col("body_ok"))
        .select(col("doc_id"), col("target_uri"), col("body"))
        .localCheckpoint(eager = true)
      val valid = framed.select(col("doc_id"), col("target_uri").as("url"))
      // the seed resolves links EXACTLY as the frontier channel does
      // (base-path merge + dot removal) — a seed resolved differently
      // would leave the outlink channel un-exhausted and break the
      // redirect-only design of this fixture
      val linked = HtmlOps.htmlOutlinks(
          framed.select(col("doc_id"),
            HtmlOps.hostOf(col("target_uri")).as("fetch_host"),
            HtmlOps.urlPath(col("target_uri")).as("base_path"),
            col("body").as("html")),
          baseHostCol = Some("fetch_host"), keep = Seq("base_path"))
        .filter(col("host") =!= "")
        .select(col("doc_id"),
          HtmlOps.resolvedUrl(col("url"), col("host"), col("base_path"))
            .as("url"))
      HtmlOps.saveUrlKeys(valid.unionByName(linked), sc, "urlkeys")
    }
    HtmlOps.redirectFrontier(chunks, scope, "urlkeys", epochRanks(s, dir),
      HtmlOps.plantedRobotsRules(s))
  }

  /** q203: the WARC-fed loop driven end-to-end — the key set seeded
    * from the first 250 chunks' VALID fetches (framing + HTTP gates
    * applied, same as the loop applies them), waves [250, 375) and
    * [375, 500) streamed as RAW chunks; each batch frames, gates,
    * appends only valid target URIs, and writes its scheduled wave.
    */
  private def streamWarcLoopQuery(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val scope = Memo.scope("graft-q203-", s, dir) { sc =>
      val chunks = HtmlOps.plantedWarcCorpus(docs)
      seedWarcKeys(chunks, sc)
      val src = chunks.select(col("doc_id"), col("warc"))
      writeTwoWaves(src, sc)
      // the SEED robots bytes: parse(seed) equals the planted rules
      // and delays (spec-pinned), so wave 0's policy is unchanged —
      // robots fetches in the stream would update it from wave 1 on
      EventsStreaming.streamingWarcCrawlLoop(s, sc.path("stream-src"),
        sc, "urlkeys", epochRanks(s, dir), HtmlOps.plantedRobotsTxt(s),
        sc.path("waves"), sc.path("ckpt"))
    }
    loopWaves(s, scope, "waves")
  }

  /** q188: the persisted domain-rank artifact — saved once per
    * (process, sf dir) from the planted pages' link graph, read back
    * gated on the recorded meta. The oracle replays the identical
    * trajectory (q180's SQL), so the round trip must be bit-identical
    * to the direct rank — the artifact changes where the ranks live,
    * never what they are.
    */
  private def domainRankArtifact(s: SparkSession, dir: String): DataFrame = {
    val scope = Memo.scope("graft-q188-", s, dir) { sc =>
      GraphOps.saveDomainRank(HtmlOps.domainEdges(
        HtmlOps.plantedHtmlCorpus(t(s, dir, "documents"))), sc, "rank")
    }
    GraphOps.loadDomainRank(s, scope, "rank")
  }

  /** The EPOCH rank every frontier consumer reads — the q188
    * persisted artifact, built once per (process, sf dir): production
    * ranks once per crawl epoch and each wave reloads, it does not
    * re-derive the graph per query. The oracle replays the identical
    * trajectory either way (the q188 reload is bit-identical to the
    * direct computation, pinned in GraphOpsSpec).
    */
  private def epochRanks(s: SparkSession, dir: String): DataFrame =
    domainRankArtifact(s, dir)

  /** q187: the frontier composed from the standing artifacts — the
    * key set seeded from the FULL dirty-URL corpus (every planted
    * page has been fetched), the rank from the pages' own link graph;
    * candidates are the pages' outlinks. The planted overlap: docs
    * 0-4's next-link canon equals their own fetched key (the CRT leg
    * — doc_id%13 = doc_id%5 forces doc_id < 5), so the anti-join
    * provably bites on the fixture.
    */
  private def crawlFrontierQuery(s: SparkSession, dir: String): DataFrame = {
    val pages = HtmlOps.plantedHtmlCorpus(t(s, dir, "documents"))
    HtmlOps.crawlFrontier(pages, frontierScope(s, dir), "urlkeys",
      epochRanks(s, dir))
  }

  /** q191: q187's frontier with the planted robots rules gating the
    * candidates — the same key-set artifact (shared scope cache), the
    * same rank; only robots-allowed URLs compete for wave slots.
    */
  private def politeFrontierQuery(s: SparkSession, dir: String): DataFrame = {
    val pages = HtmlOps.plantedHtmlCorpus(t(s, dir, "documents"))
    HtmlOps.politeFrontier(pages, frontierScope(s, dir), "urlkeys",
      epochRanks(s, dir), HtmlOps.plantedRobotsRules(s))
  }

  /** The q187/q191 maintained key-set artifact, seeded once per
    * (process, sf dir) from the FULL dirty-URL corpus.
    */
  private def frontierScope(s: SparkSession, dir: String): graft.core.Scope = {
    val urls = HtmlOps.plantedDirtyUrlCorpus(t(s, dir, "documents"))
    Memo.scope("graft-q187-", s, dir) { sc =>
      HtmlOps.saveUrlKeys(urls, sc, "urlkeys")
    }
  }

  /** q193: each trajectory round's weights scored over the features,
    * counted into the four confusion cells — `pred ⟺ score > 0`,
    * exactly the gate's decision rule.
    */
  private def qualityFitEvalSql(iters: Int = 3): String = {
    val rounds = (1 to iters).map { i =>
      s"""SELECT $i AS round,
         |  CAST(sum(CASE WHEN score > 0 AND y = 1 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS tp,
         |  CAST(sum(CASE WHEN score > 0 AND y = -1 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS fp,
         |  CAST(sum(CASE WHEN score <= 0 AND y = 1 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS fn,
         |  CAST(sum(CASE WHEN score <= 0 AND y = -1 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS tn
         |FROM (SELECT f.y,
         |  ${(0 until 5).map(d => s"a$d * x$d").mkString(" + ")} AS score
         |  FROM f CROSS JOIN w$i) s$i""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${qualityFitCtes(iters)}
       |$rounds""".stripMargin
  }

  /** The q187 oracle — outlinks (q173's href → host → blocklist
    * chain), canonical candidate aggregation, the anti-join against
    * the full dirty-URL canonical key set (the maintained artifact's
    * batch semantics — layout is Spark-side only), the q180 rank as a
    * correlated subselect source, and the per-domain politeness cap.
    */
  private lazy val q187Sql = frontierSql(robots = false)

  private lazy val q191Sql = frontierSql(robots = true)

  /** The q187/q191 oracle body; `robots = true` inserts the q190
    * longest-match gate between the blocklist verdict and the
    * candidate aggregation, exactly where [[HtmlOps.politeFrontier]]
    * applies it.
    */
  private def frontierSql(robots: Boolean): String = {
    val rules = if (robots) duckRobotsRuleCtes + ",\n" else ""
    s"""WITH $rules${frontierCtes("f", robots)}
       |SELECT canon, url, domain, n_refs, pr, CAST(slot AS INT) AS slot
       |FROM ffs WHERE slot <= 10""".stripMargin
  }

  /** One prefixed frontier-wave CTE chain (ending in `${pfx}fs`,
    * pre-cap): pages from `documents WHERE pagePred` (or the caller's
    * `pageCtes`, ending in `${pfx}p` — q203 derives pages from framed
    * WARC bytes), the key set from the dirty URLs of `documents WHERE
    * keyPred` (or the caller's `keySrc`, a subquery yielding `u`
    * rows), the rank always epoch-level (full documents — the q188
    * artifact contract). `robots = true` expects the caller to have
    * included [[duckRobotsRuleCtes]] (`rru`) once in the WITH clause.
    * The prefixing lets q192/q203 replay several loop waves in one
    * query.
    *
    * @param extraCtes  extra CTE chain spliced in AFTER the gate
    *                    (may reference the page CTEs)
    * @param extraCands  name of a CTE from `extraCtes` yielding
    *                    already-gated (doc_id, url, host, domain)
    *                    rows UNION'd into the candidate aggregation —
    *                    the q205 redirect channel
    */
  private def frontierCtes(pfx: String, robots: Boolean,
                           pagePred: String = "true",
                           keyPred: String = "true",
                           pageCtes: Option[String] = None,
                           keySrc: Option[String] = None,
                           extraCtes: Option[String] = None,
                           extraCands: Option[String] = None,
                           rulesCte: String = "rru",
                           excludeCanons: Option[String] = None): String = {
    val gate =
      if (!robots)
        s"${pfx}g AS (SELECT doc_id, url, host, domain FROM ${pfx}b2)"
      else
        s"""${pfx}pt AS (SELECT *, ${duckMatchOf("url")} AS mt
           |  FROM ${pfx}b2),
           |${pfx}mg AS (SELECT p.rid, p.doc_id, p.url, p.host, p.domain,
           |  r.allow,
           |  row_number() OVER (PARTITION BY p.rid
           |    ORDER BY coalesce(strlen(r.prefix), -1) DESC,
           |             r.allow DESC) AS rn
           |  FROM ${pfx}pt p LEFT JOIN $rulesCte r ON r.domain = p.domain
           |    AND ${duckRobotsMatch("p.mt", "r")}),
           |${pfx}g AS (SELECT doc_id, url, host, domain FROM ${pfx}mg
           |  WHERE rn = 1 AND coalesce(allow, true))""".stripMargin
    val pages = pageCtes.getOrElse(
      s"""${pfx}p AS (SELECT doc_id, $duckFetchHost AS fetch_host,
         |  '/' AS base_path,
         |  $duckHtml AS html FROM documents WHERE $pagePred)"""
        .stripMargin)
    val keys = keySrc.getOrElse(
      s"(SELECT $duckDirtyUrl AS u FROM documents WHERE $keyPred)")
    val extra = extraCtes.map(_ + ",\n").getOrElse("")
    val candSrc = extraCands match {
      case Some(x) =>
        s"""(SELECT doc_id, url, host, domain FROM ${pfx}g
           |    UNION ALL SELECT doc_id, url, host, domain FROM $x)"""
          .stripMargin
      case None => s"${pfx}g"
    }
    s"""$pages,
       |${pfx}l0 AS (SELECT doc_id, fetch_host, base_path,
       |  unnest(regexp_extract_all(html, '[Hh][Rr][Ee][Ff]="([^"]*)"', 1))
       |    AS url FROM ${pfx}p),
       |${pfx}l AS (SELECT *, row_number() OVER () AS rid FROM ${pfx}l0),
       |${pfx}h AS (SELECT rid, doc_id, url, base_path,
       |  ${duckLinkHost("url")} AS host
       |  FROM ${pfx}l),
       |${pfx}c AS (SELECT rid, doc_id, url, base_path, host,
       |  ${duckDomainOf("host")}
       |  AS domain FROM ${pfx}h WHERE host <> ''),
       |${pfx}b AS (SELECT * FROM ${pfx}c
       |  WHERE domain NOT IN ('s2.example', 's5.example', 's11.example')),
       |${pfx}b2 AS (SELECT rid, doc_id,
       |  ${duckResolvedUrl("url", "host", "base_path")} AS url, host, domain
       |  FROM ${pfx}b),
       |$gate,
       |$extra${pfx}cand AS (SELECT ${duckCanonOf("url")} AS canon,
       |  min(url) AS url, min(domain) AS domain,
       |  CAST(count(*) AS BIGINT) AS n_refs FROM $candSrc
       |  WHERE NOT ${duckTrapPred("url")} GROUP BY 1),
       |${pfx}stored AS (SELECT DISTINCT ${duckCanonOf("u")} AS canon
       |  FROM $keys),
       |${pfx}unseen AS (SELECT c.* FROM ${pfx}cand c
       |  ANTI JOIN ${pfx}stored s USING (canon)),
       |${pfx}fresh AS (SELECT u.* FROM ${pfx}unseen u${excludeCanons
      .map(x => s" ANTI JOIN $x USING (canon)").getOrElse("")}),
       |${pfx}ranks AS (SELECT domain, pr FROM (${hostRankSql()})),
       |${pfx}j AS (SELECT f.canon, f.url, f.domain, f.n_refs,
       |  coalesce(r.pr, 0) AS pr FROM ${pfx}fresh f
       |  LEFT JOIN ${pfx}ranks r ON r.domain = f.domain),
       |${pfx}fs AS (SELECT *, row_number() OVER (PARTITION BY domain
       |  ORDER BY n_refs DESC, canon ASC) AS slot FROM ${pfx}j)"""
      .stripMargin
  }

  /** The q203 warc-page CTEs: the chunk bytes regenerated and framed
    * (q184's chain), the HTTP gate applied, pages = gated bodies with
    * the fetch host from the WARC-Target-URI header — ending in
    * `${pfx}p`, the [[frontierCtes]] page contract.
    */
  private def duckWarcPages(pfx: String, pagePred: String): String =
    s"""${pfx}d0 AS (SELECT doc_id, $duckHtml AS html FROM documents
       |  WHERE $pagePred),
       |${duckHttpPayload(s"${pfx}d0", s"${pfx}hp")},
       |${duckWarcChain(s"${pfx}hp", pfx)},
       |${duckHttpFrame(pfx, s"${pfx}hp")},
       |${pfx}p AS (SELECT doc_id,
       |  regexp_extract(target_uri, '^(?i)(?:https?:)?//([^/?#]+)', 1)
       |    AS fetch_host,
       |  ${duckPathOf("target_uri")} AS base_path,
       |  body AS html FROM ${pfx}ht
       |  WHERE coalesce(strlen(payload) = content_length, false)
       |    AND coalesce(http_status = 200 AND mime = 'text/html',
       |          false)
       |    AND body_ok)""".stripMargin

  /** One WARC-loop frontier wave `pfx`: pages from the framed chunks
    * matching `pagePred`, keys from `keySrc`, robots rules `rules`,
    * and the redirect channel as extra candidates; `exclude` names a
    * CTE of canons an earlier wave already scheduled.
    */
  private def duckWarcWave(pfx: String, pagePred: String, keySrc: String,
                           rules: String = "rru",
                           exclude: Option[String] = None): String =
    frontierCtes(pfx, robots = true,
      pageCtes = Some(duckWarcPages(pfx, pagePred)), keySrc = Some(keySrc),
      extraCtes = Some(duckRedirectCtes(pfx, rules)),
      extraCands = Some(pfx + "rrg"), rulesCte = rules,
      excludeCanons = exclude)

  /** The WARC loops' seed key set (q203/q208/q214 oracles): the
    * planted page URLs of the fetches matching `pred` that frame and
    * gate cleanly.
    */
  private def duckValidKeys(pred: String) =
    s"""(SELECT concat('https://w', cast(doc_id % 7 AS varchar), '.s',
       |  cast(doc_id % 5 AS varchar), '.example/p/',
       |  cast(doc_id % 11 AS varchar)) AS u FROM documents
       |  WHERE ($pred) AND doc_id % 13 NOT IN (2, 3, 5, 7, 8, 11, 12))"""
      .stripMargin

  /** The q203 oracle — both streamed waves replayed with pages from
    * the framed+gated chunk bytes and the key set from the VALID
    * fetches only (a failed or non-HTML fetch never entered, so its
    * key stays eligible), then the q198 schedule join.
    */
  private lazy val q203Sql = {
    val w0 = duckWarcWave("wc", "doc_id >= 250 AND doc_id < 375",
      duckValidKeys("doc_id < 375"))
    val w1 = duckWarcWave("wd", "doc_id >= 375", duckValidKeys("true"))
    val dCols = "canon, url, domain, n_refs, pr"
    s"""WITH $duckRobotsRuleCtes,
       |$duckRobotsTxtCtes,
       |$duckDelayCte,
       |$w0,
       |$w1,
       |${carriedScheduleCtes(Seq(("wcfs", dCols, "sdl"),
      ("wdfs", dCols, "sdl")))}
       |SELECT canon, url, domain, n_refs, pr, slot, delay_s,
       |  not_before_s, CAST(0 AS BIGINT) AS wave FROM cw0
       |UNION ALL
       |SELECT canon, url, domain, n_refs, pr, slot, delay_s,
       |  not_before_s, CAST(1 AS BIGINT) AS wave FROM cw1""".stripMargin
  }

  /** The q214 oracle — defer → age-out → re-compete replayed: the one
    * frontier chain (`ta`) instantiated for waves 0 and 2 (identical
    * candidates and keys — the planted design), wave 1 as the SAME
    * chain (`tb`) minus wave 0's dispatched canons (`rec1`: every
    * slot ≤ 10 was stamped at Feb 1 + offset, all inside the 3-day
    * TTL at Feb 3 — so wave 1's slots go to the cap losers), and by
    * Feb 8 every stamp (wave 0's AND wave 1's) has aged out, so wave
    * 2 is wave 0's chain verbatim — continuing on the one carried
    * dispatch clock through all three stages.
    */
  private lazy val q214Sql = {
    val ta = duckWarcWave("ta", "doc_id >= 250 AND doc_id < 375",
      duckValidKeys("doc_id < 375"))
    val tb = duckWarcWave("tb", "doc_id >= 250 AND doc_id < 375",
      duckValidKeys("doc_id < 375"), exclude = Some("rec1"))
    val dCols = "canon, url, domain, n_refs, pr"
    s"""WITH $duckRobotsRuleCtes,
       |$duckRobotsTxtCtes,
       |$duckDelayCte,
       |$ta,
       |rec1 AS (SELECT canon FROM tafs WHERE slot <= 10),
       |$tb,
       |${carriedScheduleCtes(Seq(("tafs", dCols, "sdl"),
      ("tbfs", dCols, "sdl"), ("tafs", dCols, "sdl")))}
       |SELECT canon, url, domain, n_refs, pr, slot, delay_s,
       |  not_before_s, CAST(0 AS BIGINT) AS wave FROM cw0
       |UNION ALL
       |SELECT canon, url, domain, n_refs, pr, slot, delay_s,
       |  not_before_s, CAST(1 AS BIGINT) AS wave FROM cw1
       |UNION ALL
       |SELECT canon, url, domain, n_refs, pr, slot, delay_s,
       |  not_before_s, CAST(2 AS BIGINT) AS wave FROM cw2""".stripMargin
  }

  /** The redirect DISCOVERY channel replayed (HtmlOps.redirectTargets
    * + blocklist + robots gate on the RESOLVED url), reading the
    * framed+HTTP CTE `${pfx}ht` and ending in `${pfx}rrg` —
    * (doc_id, url, host, domain) rows ready for [[frontierCtes]]'s
    * `extraCands` union. `rulesCte` lets a wave gate under flipped
    * robots tables (q208).
    */
  private def duckRedirectCtes(pfx: String, rulesCte: String): String =
    s"""${pfx}rr0 AS (SELECT doc_id, redirect_to AS url,
       |  regexp_extract(target_uri, '^(?i)(?:https?:)?//([^/?#]+)', 1)
       |    AS fetch_host,
       |  ${duckPathOf("target_uri")} AS base_path
       |  FROM ${pfx}ht WHERE redirect_to <> ''),
       |${pfx}rr1 AS (SELECT doc_id, url, base_path,
       |  ${duckLinkHost("url")} AS host
       |  FROM ${pfx}rr0),
       |${pfx}rr2 AS (SELECT doc_id, url, base_path, host,
       |  ${duckDomainOf("host")}
       |  AS domain FROM ${pfx}rr1 WHERE host <> ''),
       |${pfx}rr3 AS (SELECT * FROM ${pfx}rr2 WHERE domain NOT IN
       |  ('s2.example', 's5.example', 's11.example')),
       |${pfx}rr4 AS (SELECT doc_id,
       |  ${duckResolvedUrl("url", "host", "base_path")}
       |  AS url, host, domain, row_number() OVER () AS rid
       |  FROM ${pfx}rr3),
       |${pfx}rr5 AS (SELECT *, ${duckMatchOf("url")} AS mt
       |  FROM ${pfx}rr4),
       |${pfx}rr6 AS (SELECT p.rid, p.doc_id, p.url, p.host, p.domain,
       |  r.allow, row_number() OVER (PARTITION BY p.rid
       |    ORDER BY coalesce(strlen(r.prefix), -1) DESC,
       |             r.allow DESC) AS rn
       |  FROM ${pfx}rr5 p LEFT JOIN $rulesCte r ON r.domain = p.domain
       |    AND ${duckRobotsMatch("p.mt", "r")}),
       |${pfx}rrg AS (SELECT doc_id, url, host, domain FROM ${pfx}rr6
       |  WHERE rn = 1 AND coalesce(allow, true))""".stripMargin

  /** The q205 oracle — the redirect-aware frontier replayed: chunk
    * bytes regenerated and framed (q184's chain), valid pages feed
    * the outlink channel (q191's chain), the 3xx records' Location
    * targets feed the redirect channel (host inheritance for the
    * server-relative spelling, blocklist, robots longest-match on the
    * RESOLVED url), both union into ONE candidate aggregation, then
    * the standard anti-join / rank / politeness tail. The key set is
    * every valid fetch (all /p/ pages), so the /r/ targets — which no
    * page links — can only reach a wave slot through the redirect
    * channel.
    */
  private lazy val q205Sql = {
    // the mature-crawl key set: every valid fetch plus every URL its
    // page links (resolved with fetch-host inheritance, exactly the
    // outlink channel's own resolution)
    val validKeys =
      s"""(SELECT concat('https://w', cast(doc_id % 7 AS varchar), '.s',
         |  cast(doc_id % 5 AS varchar), '.example/p/',
         |  cast(doc_id % 11 AS varchar)) AS u FROM documents
         |  WHERE doc_id % 13 NOT IN (2, 3, 5, 7, 8, 11, 12)
         |  UNION ALL
         |  SELECT ${duckResolvedUrl("url", "host", "base_path")} AS u FROM (
         |    SELECT url, base_path, ${duckLinkHost("url")} AS host FROM (
         |      SELECT doc_id,
         |        concat('w', cast(doc_id % 7 AS varchar), '.s',
         |          cast(doc_id % 5 AS varchar), '.example') AS fetch_host,
         |        concat('/p/', cast(doc_id % 11 AS varchar)) AS base_path,
         |        unnest(regexp_extract_all($duckHtml ||
         |          CASE WHEN doc_id % 13 = 0 THEN concat(
         |            '<a href="../u/', cast(doc_id % 11 AS varchar),
         |            '">Up</a><a href="d', cast(doc_id % 7 AS varchar),
         |            '.html">Rel</a>') ELSE '' END,
         |          '[Hh][Rr][Ee][Ff]="([^"]*)"', 1)) AS url
         |      FROM documents
         |      WHERE doc_id % 13 NOT IN (2, 3, 5, 7, 8, 11, 12)))
         |  WHERE host <> '')""".stripMargin
    val redirectCtes = duckRedirectCtes("rf", "rru")
    s"""WITH $duckRobotsRuleCtes,
       |${frontierCtes("rf", robots = true,
        pageCtes = Some(duckWarcPages("rf", "true")),
        keySrc = Some(validKeys),
        extraCtes = Some(redirectCtes),
        extraCands = Some("rfrrg"))}
       |SELECT canon, url, domain, n_refs, pr, CAST(slot AS INT) AS slot
       |FROM rffs WHERE slot <= 10""".stripMargin
  }

  /** The q208 oracle — the WARC loop's two waves replayed with the
    * POLICY FLIP applied where the loop applies it: wave 0 under the
    * seed rules/delays (the riding robots chunk is not a page and not
    * a key), wave 1 under the flipped tables the in-stream robots
    * fetch re-parsed into the artifact (`s3.example`: `Disallow:
    * /nav`+`/NAV`, `Crawl-delay: 7`), on the one carried dispatch
    * clock.
    */
  private lazy val q208Sql = {
    val w0 = duckWarcWave("we", "doc_id >= 250 AND doc_id < 375",
      duckValidKeys("doc_id < 375"))
    val w1 = duckWarcWave("wf", "doc_id >= 375",
      duckValidKeys("true"), rules = "rru1")
    val dCols = "canon, url, domain, n_refs, pr"
    s"""WITH $duckRobotsRuleCtes,
       |$duckRobotsTxtCtes,
       |$duckDelayCte,
       |rru1 AS (SELECT * FROM rru WHERE domain <> 's3.example'
       |  UNION ALL SELECT 's3.example' AS domain, false AS allow,
       |    '/nav' AS prefix
       |  UNION ALL SELECT 's3.example' AS domain, false AS allow,
       |    '/NAV' AS prefix),
       |sdl1 AS (SELECT * FROM sdl WHERE domain <> 's3.example'
       |  UNION ALL SELECT 's3.example' AS domain,
       |    CAST(7 AS BIGINT) AS delay_s),
       |$w0,
       |$w1,
       |${carriedScheduleCtes(Seq(("wefs", dCols, "sdl"),
      ("wffs", dCols, "sdl1")))}
       |SELECT canon, url, domain, n_refs, pr, slot, delay_s,
       |  not_before_s, CAST(0 AS BIGINT) AS wave FROM cw0
       |UNION ALL
       |SELECT canon, url, domain, n_refs, pr, slot, delay_s,
       |  not_before_s, CAST(1 AS BIGINT) AS wave FROM cw1""".stripMargin
  }

  /** The q207 oracle — both polite waves replayed, the second's
    * offsets derived from the first's per-domain tails through the
    * carried-clock CTE chain.
    */
  private lazy val q207Sql = {
    val w0 = frontierCtes("ca", robots = true, pagePred = "doc_id < 250")
    val w1 = frontierCtes("cb", robots = true, pagePred = "doc_id >= 250")
    val dCols = "canon, url, domain, n_refs, pr"
    s"""WITH $duckRobotsRuleCtes,
       |$duckRobotsTxtCtes,
       |$duckDelayCte,
       |$w0,
       |$w1,
       |${carriedScheduleCtes(Seq(("cafs", dCols, "sdl"),
      ("cbfs", dCols, "sdl")))}
       |SELECT canon, url, domain, n_refs, pr, slot, delay_s,
       |  not_before_s, CAST(0 AS BIGINT) AS wave FROM cw0
       |UNION ALL
       |SELECT canon, url, domain, n_refs, pr, slot, delay_s,
       |  not_before_s, CAST(1 AS BIGINT) AS wave FROM cw1""".stripMargin
  }

  /** The q211 oracle — wave 0 replayed through the full two-channel
    * chain, its slots stamped into the attempt log (even @ T0, odd
    * two TTLs earlier), the still-fresh canons collected, and the
    * retry wave replayed as the IDENTICAL chain minus those canons.
    * The attempt canon is wave 0's own (saveFetchLog canonicalizes
    * the representative URL, whose canon is its group's by
    * construction).
    */
  private lazy val q211Sql = {
    val t0 = 1767225600L
    val ttl = 86400L
    val validKeys =
      s"""(SELECT concat('https://w', cast(doc_id % 7 AS varchar), '.s',
         |  cast(doc_id % 5 AS varchar), '.example/p/',
         |  cast(doc_id % 11 AS varchar)) AS u FROM documents
         |  WHERE doc_id % 13 NOT IN (2, 3, 5, 7, 8, 11, 12)
         |    AND doc_id < 250)""".stripMargin
    val w0 = duckWarcWave("ya", "true", validKeys)
    val w1 = duckWarcWave("yb", "true", validKeys, exclude = Some("rec"))
    s"""WITH $duckRobotsRuleCtes,
       |$w0,
       |att AS (SELECT canon,
       |  CASE WHEN CAST(slot AS INT) % 2 = 0 THEN $t0
       |       ELSE ${t0 - 2L * ttl} END AS t
       |  FROM yafs WHERE slot <= 10),
       |rec AS (SELECT canon FROM att WHERE ${t0 + 3600L} - t < $ttl),
       |$w1
       |SELECT canon, url, domain, n_refs, pr, CAST(slot AS INT) AS slot
       |FROM ybfs WHERE slot <= 10""".stripMargin
  }

  /** The q204 oracle — every chunk's stage verdicts replayed (framing
    * octet check, HTTP 200+text/html, blocked-outlink page rule on the
    * body with fetch-host inheritance) and counted per target domain;
    * unparseable chunks land under the empty domain.
    */
  private lazy val q204Sql =
    s"""WITH fq AS (SELECT doc_id, $duckHtml AS html FROM documents),
       |${duckHttpPayload("fq", "fqp")},
       |${duckWarcChain("fqp", "fz")},
       |${duckHttpFrame("fz", "fqp")},
       |fzd AS (SELECT *,
       |  coalesce(regexp_extract(target_uri,
       |    '^(?i)(?:https?:)?//([^/?#]+)', 1), '') AS fetch_host
       |  FROM fzht),
       |fze AS (SELECT coalesce(${duckDomainOf("fetch_host")}, '')
       |    AS domain,
       |  coalesce(strlen(payload) = content_length, false) AS ok_framed,
       |  coalesce(http_status = 200 AND mime = 'text/html', false)
       |    AS ok_http,
       |  body_ok AS ok_decoded,
       |  len(list_filter(
       |    regexp_extract_all(body, '[Hh][Rr][Ee][Ff]="([^"]*)"', 1),
       |    u -> ${duckDomainOf(duckLinkHost("u"))}
       |      IN ('s2.example', 's5.example', 's11.example'))) AS nb
       |  FROM fzd)
       |SELECT domain,
       |  CAST(count(*) AS BIGINT) AS n_chunks,
       |  CAST(sum(CASE WHEN ok_framed THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_framed,
       |  CAST(sum(CASE WHEN ok_framed AND ok_http THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_http_ok,
       |  CAST(sum(CASE WHEN ok_framed AND ok_http AND ok_decoded
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_body_ok,
       |  CAST(sum(CASE WHEN ok_framed AND ok_http AND ok_decoded
       |    AND nb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_page_ok
       |FROM fze GROUP BY 1""".stripMargin

  /** The q212 oracle — the UNCOMPRESSED twin replayed: the planted
    * body regenerated (é suffix on %5==0 decoded per the utf-8
    * declaration — the mojibake-avoidance pin: had the engine decoded
    * before inflating, the compressed bytes would never reconstruct
    * these characters), NULL for the lying-encoding legs (%17 of 3
    * declared-gzip and 9 declared-zstd over plain bytes), then the
    * q184 extraction chain. The compressed bytes themselves never
    * appear here — inflate ∘ deflate = id is the check (the q206
    * pattern), which round 16 extends to the zstd legs (%11==5):
    * DuckDB cannot un-zstd any more than it can gunzip, so the
    * decoded twin IS the verification for all three codings.
    */
  private lazy val q212Sql =
    s"""WITH ep AS (SELECT doc_id, $duckHtml AS html FROM documents),
       |eb AS (SELECT doc_id, html ||
       |  CASE WHEN doc_id % 5 = 0 THEN '<p>rÃ©sumÃ© cafÃ©</p>'
       |       ELSE '' END AS b0 FROM ep),
       |ed AS (SELECT doc_id,
       |  CASE WHEN doc_id % 17 IN (3, 9) THEN NULL
       |       ELSE replace(b0, 'Ã©', 'é') END AS body FROM eb),
       |exb AS (SELECT doc_id, body,
       |  regexp_replace(regexp_replace(regexp_replace(body,
       |    '(?s)<[Hh][Ee][Aa][Dd]([ \\t\\n\\x0B\\f\\r][^>]*)?>.*?</[Hh][Ee][Aa][Dd]>', ' ', 'g'),
       |    '(?s)<[Ss][Cc][Rr][Ii][Pp][Tt]([ \\t\\n\\x0B\\f\\r][^>]*)?>.*?</[Ss][Cc][Rr][Ii][Pp][Tt]>', ' ', 'g'),
       |    '(?s)<[Ss][Tt][Yy][Ll][Ee]([ \\t\\n\\x0B\\f\\r][^>]*)?>.*?</[Ss][Tt][Yy][Ll][Ee]>', ' ', 'g') AS nb FROM ed),
       |ext AS (SELECT *, regexp_replace(nb, '<[^>]*>', ' ', 'g') AS nt
       |  FROM exb),
       |exe AS (SELECT *, regexp_replace(regexp_replace(regexp_replace(
       |  regexp_replace(regexp_replace(regexp_replace(nt,
       |  '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
       |  '&#39;', '''', 'g'), '&nbsp;', ' ', 'g'), '&amp;', '&', 'g') AS de
       |  FROM ext)
       |SELECT doc_id, CAST(200 AS INT) AS http_status,
       |  'text/html' AS mime,
       |  CASE WHEN doc_id % 17 = 3 THEN 'gzip'
       |       WHEN doc_id % 17 = 9 THEN 'zstd'
       |       WHEN doc_id % 11 = 5 THEN 'zstd'
       |       WHEN doc_id % 3 = 0 THEN 'gzip'
       |       WHEN doc_id % 3 = 1 THEN 'deflate'
       |       ELSE '' END AS content_encoding,
       |  (doc_id % 17 NOT IN (3, 9)) AS body_ok,
       |  regexp_extract(body, '<[Tt][Ii][Tt][Ll][Ee]>([^<]*)</[Tt][Ii][Tt][Ll][Ee]>', 1) AS title,
       |  trim(regexp_replace(de, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS text_clean
       |FROM exe""".stripMargin

  /** Wave-1 valid fetches, DECODED — `rv` (doc_id, html, url) and
    * `rw1` (doc_id, url, body): the regenerated post-decode bodies of
    * every chunk that frames, gates, and wire-decodes (the q184 chain
    * collapsed onto the planted legs). Shared by the q213 and q218
    * oracles so the two can never disagree on what the content store
    * holds.
    */
  private lazy val duckWave1Ctes = {
    val cr = "\r\n"
    s"""rv AS (SELECT doc_id, $duckHtml AS html,
       |  concat('https://w', cast(doc_id % 7 AS varchar), '.s',
       |    cast(doc_id % 5 AS varchar), '.example/p/',
       |    cast(doc_id % 11 AS varchar)) AS url
       |  FROM documents WHERE doc_id % 13 NOT IN (2, 3, 5, 7, 8, 11, 12)),
       |rw1 AS (SELECT doc_id, url,
       |  replace(html ||
       |    CASE WHEN doc_id % 13 = 1 THEN '<p>rÃ©sumÃ© cafÃ©</p>'
       |         WHEN doc_id % 13 = 9 THEN '<p>café français</p>'
       |         WHEN doc_id % 13 = 10 THEN '<p>rÃ©sumÃ© cafÃ©</p>'
       |         WHEN doc_id % 13 = 6 THEN '<p>ck 1A${cr}9${cr}zz</p>'
       |         WHEN doc_id % 13 = 0 THEN concat(
       |           '<a href="../u/', cast(doc_id % 11 AS varchar),
       |           '">Up</a><a href="d', cast(doc_id % 7 AS varchar),
       |           '.html">Rel</a>')
       |         ELSE '' END ||
       |    CASE WHEN doc_id % 19 = 13
       |         THEN '<p>see WARC/1.0${cr}WARC-Type: response${cr}quoted archive</p>'
       |         ELSE '' END ||
       |    CASE WHEN doc_id % 13 = 4 AND doc_id % 2 = 0
       |         THEN '<p>“smart” ‘q’ –en— café</p>'
       |         ELSE '' END ||
       |    CASE WHEN doc_id % 13 = 0 AND doc_id % 3 = 1
       |         THEN '<p>${graft.ops.HtmlOps.sjisLeg._2}</p>'
       |         WHEN doc_id % 13 = 0 AND doc_id % 3 = 2
       |         THEN '<p>${graft.ops.HtmlOps.eucKrLeg._2}</p>'
       |         ELSE '' END, 'Ã©', 'é') AS body FROM rv)"""
      .stripMargin
  }

  /** The q213 oracle — fetch → 304/200 → clock reset replayed per
    * canon: wave 1's DECODED bodies regenerated (the planted suffixes
    * with the utf-8 C3A9 pairs decoded — the unconditional replace is
    * a no-op on every other leg), the log's post-revalidation state
    * (last_fetch_s = t1 for every completed outcome; the validator =
    * the struct-max winner among the wave-2 responses — any 200's
    * `"w…"` beats every 304's `"v…"`), and the content argmax over
    * wave-1 versions plus wave-2 rewrites: canons whose group
    * revalidated 304-only keep their wave-1 bytes BIT-identically.
    */
  private lazy val q213Sql = {
    val t0 = 1767225600L
    val t1 = t0 + 7L * 86400L
    s"""WITH $duckWave1Ctes,
       |rkey AS (SELECT ${duckCanonOf("url")} AS canon, max(url) AS url
       |  FROM rv GROUP BY 1),
       |rlog AS (SELECT ${duckCanonOf("url")} AS canon,
       |  max({'e': CASE WHEN doc_id % 2 = 0 THEN
       |         CASE WHEN doc_id % 10 = 4 THEN ''
       |              ELSE concat('"v', cast(doc_id % 9 AS varchar), '"')
       |              END
       |       ELSE concat('"w', cast(doc_id % 9 AS varchar), '"') END,
       |     'l': CASE WHEN doc_id % 2 = 0 THEN
       |         CASE WHEN doc_id % 10 = 4
       |              THEN 'Wed, 08 Jan 2026 00:00:00 GMT' ELSE '' END
       |       ELSE 'Wed, 08 Jan 2026 00:00:00 GMT' END}) AS v
       |  FROM rv GROUP BY 1),
       |rcv AS (
       |  SELECT ${duckCanonOf("url")} AS canon,
       |    CAST($t0 AS BIGINT) AS t, body FROM rw1
       |  UNION ALL
       |  SELECT ${duckCanonOf("url")} AS canon,
       |    CAST($t1 AS BIGINT) AS t, html || '<p>rev2</p>' AS body
       |  FROM rv WHERE doc_id % 2 = 1),
       |rct AS (SELECT canon, (max({'t': t, 'b': body})).b AS body
       |  FROM rcv GROUP BY 1)
       |SELECT k.canon, k.url, CAST($t1 AS BIGINT) AS last_fetch_s,
       |  (l.v).e AS etag, (l.v).l AS last_modified,
       |  md5(coalesce(c.body, '')) AS content_md5
       |FROM rkey k JOIN rlog l USING (canon)
       |LEFT JOIN rct c USING (canon)""".stripMargin
  }

  /** The q218 oracle — wave 1 seeded, the REVISIT wave replayed per
    * canon: the stored body is the per-canon argmax over wave-1
    * versions (equal timestamps ⇒ max body string, latestContent's
    * tiebreak), the revisit legs key on the canon's trailing path
    * number (`c%3==0` correct digest → clock t2, validators survive;
    * `c%3==1` lying digest → verdict only; `c%3==2` no revisit), and
    * the log state is wave-1's struct-max validators throughout —
    * a revisit never rewrites a validator or a content version.
    */
  private lazy val q218Sql = {
    val t0 = 1767225600L
    val t2 = t0 + 14L * 86400L
    s"""WITH $duckWave1Ctes,
       |zkey AS (SELECT ${duckCanonOf("url")} AS canon, max(url) AS url
       |  FROM rv GROUP BY 1),
       |zlog AS (SELECT ${duckCanonOf("url")} AS canon,
       |  max({'e': CASE WHEN doc_id % 10 = 4 THEN ''
       |         ELSE concat('"v', cast(doc_id % 9 AS varchar), '"') END,
       |     'l': concat('Mon, ',
       |         lpad(cast(doc_id % 28 + 1 AS varchar), 2, '0'),
       |         ' Jan 2026 00:00:00 GMT')}) AS v
       |  FROM rv GROUP BY 1),
       |zct AS (SELECT ${duckCanonOf("url")} AS canon,
       |  max(body) AS body FROM rw1 GROUP BY 1),
       |zc AS (SELECT canon,
       |  CAST(regexp_extract(canon, '/p/([0-9]+)$$', 1) AS INT) AS c
       |  FROM zkey)
       |SELECT k.canon, k.url,
       |  CAST(CASE WHEN z.c % 3 = 0 THEN $t2 ELSE $t0 END AS BIGINT)
       |    AS last_fetch_s,
       |  (l.v).e AS etag, (l.v).l AS last_modified,
       |  md5(coalesce(t.body, '')) AS content_md5,
       |  (z.c % 3 = 0) AS revisit_ok
       |FROM zkey k JOIN zlog l USING (canon)
       |JOIN zc z USING (canon)
       |LEFT JOIN zct t USING (canon)""".stripMargin
  }

  /** The q219 oracle — the validator log regenerated (Last-Modified
    * strings formatted from the same epochs with strftime), the
    * HTTP-date parse replayed weekday-stripped via try_strptime, the
    * 10% heuristic TTL clamped to [1d, 30d] with the default for
    * absent/garbage/future dates, due ⟺ age ≥ ttl, then the standard
    * rank join + stalest-first per-domain cap.
    */
  private lazy val q219Sql = {
    val t0 = 1767225600L
    val now = t0 + 3L * 86400L
    s"""WITH vl AS (SELECT generate_series AS k,
       |  concat('https://w', cast(generate_series % 7 AS varchar), '.s',
       |    cast(generate_series % 5 AS varchar), '.example/p/',
       |    cast(generate_series AS varchar)) AS url,
       |  CAST($t0 AS BIGINT) AS last_fetch_s,
       |  CASE WHEN generate_series % 7 = 0 THEN ''
       |       WHEN generate_series % 7 = 1 THEN 'not a date'
       |       ELSE strftime(make_timestamp(
       |         ($t0 - (generate_series % 90) * 86400) * 1000000),
       |         '%a, %d %b %Y %H:%M:%S GMT') END AS last_modified
       |  FROM generate_series(0, 199)),
       |ve AS (SELECT *, epoch(try_strptime(
       |    regexp_replace(last_modified, '^[A-Za-z]{3}, ', ''),
       |    '%d %b %Y %H:%M:%S GMT')) AS lm FROM vl),
       |vt AS (SELECT *, CASE WHEN lm IS NULL OR lm > last_fetch_s
       |    THEN CAST(604800 AS BIGINT)
       |    ELSE least(greatest(
       |      CAST((last_fetch_s - CAST(lm AS BIGINT)) // 10 AS BIGINT),
       |      CAST(86400 AS BIGINT)), CAST(2592000 AS BIGINT)) END
       |    AS ttl_s FROM ve),
       |vh AS (SELECT ${duckCanonOf("url")} AS canon, url,
       |  regexp_extract(url, '^(?i)(?:https?:)?//([^/?#]+)', 1) AS host,
       |  last_fetch_s, ttl_s FROM vt
       |  WHERE ($now - last_fetch_s) >= ttl_s),
       |vg AS (SELECT canon, url, ${duckDomainOf("host")} AS domain,
       |  last_fetch_s, ttl_s FROM vh),
       |vranks AS (SELECT domain, pr FROM (${hostRankSql()})),
       |vj AS (SELECT g.*, coalesce(r.pr, 0) AS pr FROM vg g
       |  LEFT JOIN vranks r USING (domain)),
       |vfs AS (SELECT *, row_number() OVER (PARTITION BY domain
       |  ORDER BY last_fetch_s ASC, canon ASC) AS slot FROM vj)
       |SELECT canon, url, domain, last_fetch_s, ttl_s,
       |  CAST($now AS BIGINT) - last_fetch_s AS age_s, pr,
       |  CAST(slot AS INT) AS slot
       |FROM vfs WHERE slot <= 10""".stripMargin
  }

  /** The q201 oracle — the q191 frontier chain reused up to its
    * pre-window stage (`fj`), the q194 anchor replay embedded as a
    * subquery and aggregated to a per-canon boost score over the
    * planted boost term, and the per-domain cap re-ranked under
    * (anchor_score desc, n_refs desc, canon).
    */
  private lazy val q201Sql =
    s"""WITH $duckRobotsRuleCtes,
       |${frontierCtes("f", robots = true)},
       |bsc AS (SELECT canon, CAST(sum(n) AS BIGINT) AS anchor_score
       |  FROM (${q194Sql}) WHERE term = 'ref' GROUP BY 1),
       |bj2 AS (SELECT j.canon, j.url, j.domain, j.n_refs,
       |  coalesce(b.anchor_score, 0) AS anchor_score, j.pr
       |  FROM fj j LEFT JOIN bsc b USING (canon)),
       |bfs AS (SELECT *, row_number() OVER (PARTITION BY domain
       |  ORDER BY anchor_score DESC, n_refs DESC, canon ASC) AS slot
       |  FROM bj2)
       |SELECT canon, url, domain, n_refs, anchor_score, pr,
       |  CAST(slot AS INT) AS slot
       |FROM bfs WHERE slot <= 10""".stripMargin

  /** The q194 oracle — anchor elements matched whole, href and
    * tag-stripped text per element, targets resolved and
    * canonicalized exactly like the frontier, lowercased whitespace
    * tokens counted per (canon, term).
    */
  private lazy val q194Sql =
    s"""WITH ap AS (SELECT doc_id, $duckFetchHost AS fetch_host,
       |  $duckHtml AS html FROM documents),
       |ae AS (SELECT fetch_host, unnest(regexp_extract_all(html,
       |  '(?s)<[Aa]([ \\t\\n\\x0B\\f\\r][^>]*)?>.*?</[Aa]>', 0)) AS a
       |  FROM ap),
       |ax AS (SELECT fetch_host,
       |  regexp_extract(
       |    regexp_extract(a, '^<[Aa]([ \\t\\n\\x0B\\f\\r][^>]*)?>', 0),
       |    '[Hh][Rr][Ee][Ff]="([^"]*)"', 1) AS url,
       |  trim(regexp_replace(regexp_replace(a, '<[^>]*>', ' ', 'g'),
       |    '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS anchor FROM ae),
       |ah AS (SELECT url, anchor, ${duckLinkHost("url")} AS host
       |  FROM ax WHERE url <> ''),
       |ar AS (SELECT anchor,
       |  ${duckResolvedUrl("url", "host")} AS rurl
       |  FROM ah WHERE host <> ''),
       |at AS (SELECT ${duckCanonOf("rurl")} AS canon,
       |  unnest(regexp_split_to_array(lower(anchor),
       |    '[ \\t\\n\\x0B\\f\\r]+')) AS term FROM ar)
       |SELECT canon, term, CAST(count(*) AS BIGINT) AS n
       |FROM at WHERE term <> '' GROUP BY 1, 2""".stripMargin

  /** The q198 oracle — the q191 wave as a subquery, the delay table
    * DERIVED from the regenerated raw robots bytes (the q199 parse
    * chain — no planted side table anywhere), the schedule arithmetic
    * replayed with the default fallback.
    */
  private lazy val q198Sql =
    s"""WITH $duckRobotsTxtCtes,
       |$duckDelayCte,
       |swv AS (SELECT * FROM (${q191Sql}))
       |SELECT swv.*, coalesce(sdl.delay_s, 30) AS delay_s,
       |  CAST((slot - 1) * coalesce(sdl.delay_s, 30) AS BIGINT)
       |    AS not_before_s
       |FROM swv LEFT JOIN sdl USING (domain)""".stripMargin

  /** The q197 oracle — the sitemap XML regenerated byte-identically
    * from the domain index, `<loc>` extraction, and the admission
    * chain replayed: blocklist, per-occurrence robots longest-match,
    * canonical candidate aggregation, the anti-join against the full
    * fetched key set, the epoch rank, the politeness cap.
    */
  private lazy val q197Sql = sitemapChainSql("", "true")

  /** The q220 oracle — the q197 chain with the ROOT SET derived from
    * the robots bytes: the file-wide `Sitemap:` declarations parsed
    * from the regenerated rtxt (absolute URLs only — the relative
    * decl legs drop), and the per-domain urlset admitted iff its
    * root URL was declared.
    */
  private lazy val q220Sql = sitemapChainSql(
    s"""$duckRobotsTxtCtes,
       |sdc AS (SELECT DISTINCT rtrim(u) AS durl
       |  FROM (SELECT unnest(regexp_extract_all(txt,
       |    '(?m)^[Ss][Ii][Tt][Ee][Mm][Aa][Pp]:[ \\t]*([^\\r\\n#]*)', 1))
       |    AS u FROM rtxt)
       |  WHERE regexp_matches(rtrim(u), '^(?i)https?://')),
       |""".stripMargin,
    """concat('https://s', cast(generate_series AS varchar),
      |    '.example/sitemap.xml') IN (SELECT durl FROM sdc)"""
      .stripMargin)

  /** The q228 oracle — the q191 frontier chain reused verbatim up to
    * its pre-cap stage (`ffs`), then the budget CTE (clamped
    * integer-division share of Σpr, floored at 1) joined in and the
    * cap filter swapped from the flat 10 to the per-domain budget;
    * unranked domains take the 1-slot floor.
    */
  private lazy val q228Sql =
    s"""WITH $duckRobotsRuleCtes,
       |${frontierCtes("f", robots = true)},
       |bw AS (SELECT concat('s', cast(generate_series AS varchar),
       |    '.example') AS domain,
       |  CAST(CASE WHEN generate_series = 6 THEN 500
       |       ELSE (generate_series + 1) * (generate_series + 1)
       |       END AS BIGINT) AS pr
       |  FROM generate_series(0, 12)),
       |btot AS (SELECT greatest(CAST(sum(pr) AS BIGINT), 1) AS tot
       |  FROM bw),
       |bbud AS (SELECT domain,
       |  CAST(least(greatest((CAST(60 AS BIGINT) * pr) // tot, 1), 15)
       |    AS INT) AS k_domain
       |  FROM bw, btot)
       |SELECT f.canon, f.url, f.domain, f.n_refs,
       |  coalesce(b.k_domain, 1) AS k_domain, f.pr,
       |  CAST(f.slot AS INT) AS slot
       |FROM ffs f LEFT JOIN bbud b USING (domain)
       |WHERE f.slot <= coalesce(b.k_domain, 1)""".stripMargin

  /** The q227 oracle — the fixture's version history in CLOSED FORM
    * (per key: `1+k%5` versions at a `1+k%11`-day interval ending at
    * t0, so count/first/last are arithmetic), the half-interval
    * integer TTL (`//`, matching Spark's `div`), the default arm for
    * single-version keys, and the q196 politeness tail.
    */
  private lazy val q227Sql = {
    val t0 = 1767225600L
    val now = t0 + 3L * 86400L
    s"""WITH avk AS (SELECT generate_series AS k,
       |  (generate_series % 5) + 1 AS nv,
       |  (generate_series % 11) + 1 AS iv,
       |  concat('https://w', cast(generate_series % 7 AS varchar), '.s',
       |    cast(generate_series % 5 AS varchar), '.example/p/',
       |    cast(generate_series AS varchar)) AS canon
       |  FROM generate_series(0, 199)),
       |avh AS (SELECT canon, CAST(nv AS BIGINT) AS n_versions,
       |  CAST($t0 - (nv - 1) * iv * 86400 AS BIGINT) AS first_s,
       |  CAST($t0 AS BIGINT) AS last_s FROM avk),
       |avt AS (SELECT *, CASE WHEN n_versions <= 1
       |    THEN CAST(172800 AS BIGINT)
       |    ELSE least(greatest(
       |      CAST((last_s - first_s) // ((n_versions - 1) * 2) AS BIGINT),
       |      CAST(86400 AS BIGINT)), CAST(2592000 AS BIGINT)) END
       |    AS ttl_s FROM avh),
       |avd AS (SELECT * FROM avt
       |  WHERE CAST($now AS BIGINT) - last_s >= ttl_s),
       |avg2 AS (SELECT canon, ${duckDomainOf(
      s"regexp_extract(canon, '^(?i)(?:https?:)?//([^/?#]+)', 1)")}
       |    AS domain, n_versions, ttl_s, last_s FROM avd),
       |avranks AS (SELECT domain, pr FROM (${hostRankSql()})),
       |avj AS (SELECT g.*, coalesce(r.pr, 0) AS pr FROM avg2 g
       |  LEFT JOIN avranks r USING (domain)),
       |avfs AS (SELECT *, row_number() OVER (PARTITION BY domain
       |  ORDER BY last_s ASC, canon ASC) AS slot FROM avj)
       |SELECT canon, domain, n_versions, ttl_s, last_s,
       |  CAST($now AS BIGINT) - last_s AS age_s, pr,
       |  CAST(slot AS INT) AS slot
       |FROM avfs WHERE slot <= 10""".stripMargin
  }

  /** The q226 oracle — the direct page extraction (the q212 chain
    * over the regenerated html), the url/date regenerated from the
    * same arithmetic, crossed with the two arms, `ok` uniformly
    * true. No WARC byte appears here: export ∘ ingest = id IS the
    * check.
    */
  private lazy val q226Sql = {
    val base = 1767225600L
    s"""WITH wp AS (SELECT doc_id, $duckHtml AS body FROM documents),
       |wxb AS (SELECT doc_id, body,
       |  regexp_replace(regexp_replace(regexp_replace(body,
       |    '(?s)<[Hh][Ee][Aa][Dd]([ \\t\\n\\x0B\\f\\r][^>]*)?>.*?</[Hh][Ee][Aa][Dd]>', ' ', 'g'),
       |    '(?s)<[Ss][Cc][Rr][Ii][Pp][Tt]([ \\t\\n\\x0B\\f\\r][^>]*)?>.*?</[Ss][Cc][Rr][Ii][Pp][Tt]>', ' ', 'g'),
       |    '(?s)<[Ss][Tt][Yy][Ll][Ee]([ \\t\\n\\x0B\\f\\r][^>]*)?>.*?</[Ss][Tt][Yy][Ll][Ee]>', ' ', 'g') AS nb FROM wp),
       |wxt AS (SELECT *, regexp_replace(nb, '<[^>]*>', ' ', 'g') AS nt
       |  FROM wxb),
       |wxe AS (SELECT *, regexp_replace(regexp_replace(regexp_replace(
       |  regexp_replace(regexp_replace(regexp_replace(nt,
       |  '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
       |  '&#39;', '''', 'g'), '&nbsp;', ' ', 'g'), '&amp;', '&', 'g') AS de
       |  FROM wxt)
       |SELECT doc_id, a.arm,
       |  concat('https://w', cast(doc_id % 7 AS varchar), '.s',
       |    cast(doc_id % 5 AS varchar), '.example/p/',
       |    cast(doc_id % 11 AS varchar)) AS target_uri,
       |  strftime(make_timestamp(
       |    ($base + (doc_id % 97) * 3600) * 1000000),
       |    '%Y-%m-%dT%H:%M:%SZ') AS warc_date,
       |  regexp_extract(body, '<[Tt][Ii][Tt][Ll][Ee]>([^<]*)</[Tt][Ii][Tt][Ll][Ee]>', 1) AS title,
       |  trim(regexp_replace(de, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS text_clean,
       |  true AS ok
       |FROM wxe CROSS JOIN (SELECT unnest(['plain', 'gzip']) AS arm) a"""
      .stripMargin
  }

  /** q226: export the planted page corpus as WARC (both arms), then
    * RE-INGEST each export through the engine's own front door —
    * plain records through the strict walk, gzip members through the
    * q206 inflate — and emit the framed identity + verdicts + the
    * extraction. The oracle never sees a WARC byte: it replays the
    * DIRECT extraction per page × arm with `ok = true`, so any
    * framing drift in the export (a mis-counted octet, a broken
    * date, a corrupt member) flips a verdict or garbles a byte and
    * the hash breaks.
    */
  private def warcExportQuery(s: SparkSession, dir: String): DataFrame = {
    val pages = HtmlOps.plantedHtmlCorpus(t(s, dir, "documents"))
      .withColumn("url", expr(
        """concat('https://w', cast(doc_id % 7 as string), '.s',
          | cast(doc_id % 5 as string), '.example/p/',
          | cast(doc_id % 11 as string))""".stripMargin.replace("\n", " ")))
      .withColumn("fetched_at_s",
        lit(1767225600L) + (col("doc_id") % 97) * 3600L)
    val plain = HtmlOps.httpFrame(HtmlOps.warcFrame(
      HtmlOps.exportWarc(pages), "warc"))
    val gz = HtmlOps.httpFrame(HtmlOps.warcFrame(
      HtmlOps.gunzipWarcChunks(
        HtmlOps.exportWarc(pages, gzip = true)), "warc"))
    def shape(df: DataFrame, arm: String) = df.select(col("doc_id"),
      lit(arm).as("arm"), col("target_uri"), col("warc_date"),
      HtmlOps.titleOf(col("body")).as("title"),
      HtmlOps.extractedText(col("body")).as("text_clean"),
      (col("length_ok") && col("http_ok") && col("body_ok")).as("ok"))
    shape(plain, "plain").unionByName(shape(gz, "gzip"))
  }

  /** The q225 oracle — the feeds REGENERATED byte-identically from
    * `generate_series` (dates via strftime from the same epoch
    * arithmetic the fixture formats in-plan), the entry parse
    * replayed in RE2 — block scoping, the RSS text link, the Atom
    * href filter as a lookahead-free `list_filter` over the link
    * tags, both date grammars through try_strptime — and the q197
    * admission chain with the newest-published-first cap.
    */
  private lazy val q225Sql = {
    val t0 = 1767225600L
    val gs = "generate_series"
    // one <item>/<entry> per (k, i): the fixture's exact arithmetic
    def itemSql =
      s"""CASE WHEN k % 2 = 0 THEN concat('<item><link>', u,
         |    '</link>', CASE WHEN i = 5 THEN '' ELSE concat(
         |      '<pubDate>', strftime(make_timestamp(ep * 1000000),
         |        '%a, %d %b %Y %H:%M:%S GMT'), '</pubDate>') END,
         |    '</item>')
         |  ELSE concat('<entry><link rel="enclosure" ',
         |    'href="https://cdn.example/m/', cast(k AS varchar), '-',
         |    cast(i AS varchar), '.mp3"/>',
         |    '<link href="', u, '"/>',
         |    '<updated>', strftime(make_timestamp(ep * 1000000),
         |      '%Y-%m-%dT%H:%M:%SZ'), '</updated></entry>')
         |  END""".stripMargin
    s"""WITH fdk AS (SELECT $gs AS k FROM generate_series(0, 12)),
       |fdi AS (SELECT k, i.i AS i,
       |  CASE WHEN i.i = 7 THEN 0 ELSE i.i END AS ui,
       |  CASE WHEN i.i = 7
       |    THEN $t0 + ((k + 0) % 28) * 86400 + 0 + 432000
       |    ELSE $t0 + ((k + 3 * i.i) % 28) * 86400 + i.i * 3600
       |    END AS ep
       |  FROM fdk, generate_series(0, 7) i(i)),
       |fdu AS (SELECT k, i, ep, concat('https://w',
       |  cast((k + 3 * ui) % 7 AS varchar), '.s', cast(k AS varchar),
       |  '.example/', CASE WHEN ui % 2 = 0 THEN 'p/' ELSE 'f/' END,
       |  cast((k + ui) % 11 AS varchar)) AS u FROM fdi),
       |fdx AS (SELECT k, concat(
       |  CASE WHEN k % 2 = 0 THEN concat('<rss><channel><link>https://s',
       |    cast(k AS varchar), '.example/</link>')
       |  ELSE concat('<feed><link rel="self" href="https://s',
       |    cast(k AS varchar), '.example/feed.xml"/>') END,
       |  string_agg($itemSql, '' ORDER BY i),
       |  CASE WHEN k % 2 = 0 THEN '</channel></rss>'
       |       ELSE '</feed>' END) AS xml
       |  FROM fdu GROUP BY k),
       |fb AS (SELECT unnest(regexp_extract_all(xml,
       |  '(?s)<(?:[Ii][Tt][Ee][Mm]|[Ee][Nn][Tt][Rr][Yy])>.*?</(?:[Ii][Tt][Ee][Mm]|[Ee][Nn][Tt][Rr][Yy])>',
       |  0)) AS b FROM fdx),
       |fl AS (SELECT b,
       |  regexp_extract(b, '<[Ll][Ii][Nn][Kk]>([^<]*)</[Ll][Ii][Nn][Kk]>', 1)
       |    AS rss_link,
       |  list_filter(regexp_extract_all(b,
       |    '<[Ll][Ii][Nn][Kk][^>]*href="[^"]*"[^>]*>', 0),
       |    t -> strpos(t, 'rel="') = 0
       |      OR strpos(t, 'rel="alternate"') > 0) AS tags,
       |  epoch(try_strptime(regexp_replace(regexp_extract(b,
       |    '<[Pp][Uu][Bb][Dd][Aa][Tt][Ee]>([^<]*)</[Pp][Uu][Bb][Dd][Aa][Tt][Ee]>',
       |    1), '^[A-Za-z]{3}, ', ''), '%d %b %Y %H:%M:%S GMT')) AS pub_s,
       |  epoch(try_strptime(regexp_extract(b,
       |    '<[Uu][Pp][Dd][Aa][Tt][Ee][Dd]>([^<]*)</[Uu][Pp][Dd][Aa][Tt][Ee][Dd]>',
       |    1), '%Y-%m-%dT%H:%M:%SZ')) AS upd_s FROM fb),
       |fu AS (SELECT CASE WHEN rss_link <> '' THEN rss_link
       |    ELSE regexp_extract(coalesce(tags[1], ''), 'href="([^"]*)"', 1)
       |    END AS url,
       |  CAST(coalesce(pub_s, upd_s) AS BIGINT) AS published_s FROM fl),
       |fh AS (SELECT url, published_s,
       |  regexp_extract(url, '^(?i)(?:https?:)?//([^/?#]+)', 1) AS host
       |  FROM fu WHERE url <> ''),
       |fc AS (SELECT *, row_number() OVER () AS rid,
       |  ${duckDomainOf("host")} AS domain FROM fh WHERE host <> ''),
       |$duckRobotsRuleCtes,
       |fbk AS (SELECT * FROM fc
       |  WHERE domain NOT IN ('s2.example', 's5.example', 's11.example')),
       |fpt AS (SELECT *, ${duckMatchOf("url")} AS mt FROM fbk),
       |fmg AS (SELECT p.rid, p.url, p.published_s, p.domain, r.allow,
       |  row_number() OVER (PARTITION BY p.rid
       |    ORDER BY coalesce(strlen(r.prefix), -1) DESC,
       |             r.allow DESC) AS rn
       |  FROM fpt p LEFT JOIN rru r ON r.domain = p.domain
       |    AND ${duckRobotsMatch("p.mt", "r")}),
       |fg AS (SELECT url, published_s, domain FROM fmg
       |  WHERE rn = 1 AND coalesce(allow, true)),
       |fcand AS (SELECT ${duckCanonOf("url")} AS canon,
       |  min(url) AS url, min(domain) AS domain,
       |  CAST(count(*) AS BIGINT) AS n_refs,
       |  max(published_s) AS published_s FROM fg GROUP BY 1),
       |fstored AS (SELECT DISTINCT ${duckCanonOf("u")} AS canon
       |  FROM (SELECT $duckDirtyUrl AS u FROM documents)),
       |ffresh AS (SELECT c.* FROM fcand c
       |  ANTI JOIN fstored s USING (canon)),
       |franks AS (SELECT domain, pr FROM (${hostRankSql()})),
       |fj AS (SELECT f.canon, f.url, f.domain, f.n_refs, f.published_s,
       |  coalesce(r.pr, 0) AS pr FROM ffresh f
       |  LEFT JOIN franks r ON r.domain = f.domain),
       |ffs AS (SELECT *, row_number() OVER (PARTITION BY domain
       |  ORDER BY published_s DESC NULLS LAST, canon ASC) AS slot
       |  FROM fj)
       |SELECT canon, url, domain, n_refs, published_s, pr,
       |  CAST(slot AS INT) AS slot
       |FROM ffs WHERE slot <= 10""".stripMargin
  }

  /** The q224 oracle — the q219 validator-log replay extended with
    * the DECLARED overlay (regenerated arithmetically: every `k%3==0`
    * key, lastmod `(k%20)-10` days around the fetch instant) and the
    * three-signal precedence as one CASE pair (reason, due): a
    * declaration decides alone in BOTH directions, the heuristic
    * clamp replays q219's arithmetic verbatim, the flat TTL closes.
    */
  private lazy val q224Sql = {
    val t0 = 1767225600L
    val now = t0 + 3L * 86400L
    s"""WITH uvl AS (SELECT generate_series AS k,
       |  concat('https://w', cast(generate_series % 7 AS varchar), '.s',
       |    cast(generate_series % 5 AS varchar), '.example/p/',
       |    cast(generate_series AS varchar)) AS url,
       |  CAST($t0 AS BIGINT) AS last_fetch_s,
       |  CASE WHEN generate_series % 7 = 0 THEN ''
       |       WHEN generate_series % 7 = 1 THEN 'not a date'
       |       ELSE strftime(make_timestamp(
       |         ($t0 - (generate_series % 90) * 86400) * 1000000),
       |         '%a, %d %b %Y %H:%M:%S GMT') END AS last_modified
       |  FROM generate_series(0, 199)),
       |uds AS (SELECT
       |  concat('https://w', cast(generate_series % 7 AS varchar), '.s',
       |    cast(generate_series % 5 AS varchar), '.example/p/',
       |    cast(generate_series AS varchar)) AS url,
       |  CAST($t0 + ((generate_series % 20) - 10) * 86400 AS BIGINT)
       |    AS lastmod_s
       |  FROM generate_series(0, 199) WHERE generate_series % 3 = 0),
       |ue AS (SELECT v.*, d.lastmod_s,
       |  epoch(try_strptime(
       |    regexp_replace(v.last_modified, '^[A-Za-z]{3}, ', ''),
       |    '%d %b %Y %H:%M:%S GMT')) AS lm
       |  FROM uvl v LEFT JOIN uds d USING (url)),
       |ur AS (SELECT *,
       |  CASE WHEN lastmod_s IS NOT NULL THEN 'sitemap'
       |       WHEN lm IS NOT NULL AND lm <= last_fetch_s
       |         THEN 'heuristic'
       |       ELSE 'default' END AS reason FROM ue),
       |ud AS (SELECT * FROM ur WHERE
       |  CASE WHEN reason = 'sitemap' THEN lastmod_s > last_fetch_s
       |       WHEN reason = 'heuristic' THEN
       |         CAST($now AS BIGINT) - last_fetch_s >= least(greatest(
       |           CAST((last_fetch_s - CAST(lm AS BIGINT)) // 10
       |             AS BIGINT),
       |           CAST(86400 AS BIGINT)), CAST(2592000 AS BIGINT))
       |       ELSE CAST($now AS BIGINT) - last_fetch_s >= 172800
       |       END),
       |uh AS (SELECT ${duckCanonOf("url")} AS canon, url, reason,
       |  regexp_extract(url, '^(?i)(?:https?:)?//([^/?#]+)', 1) AS host,
       |  last_fetch_s FROM ud),
       |ug AS (SELECT canon, url, ${duckDomainOf("host")} AS domain,
       |  reason, last_fetch_s FROM uh),
       |uranks AS (SELECT domain, pr FROM (${hostRankSql()})),
       |uj AS (SELECT g.*, coalesce(r.pr, 0) AS pr FROM ug g
       |  LEFT JOIN uranks r USING (domain)),
       |ufs AS (SELECT *, row_number() OVER (PARTITION BY domain
       |  ORDER BY last_fetch_s ASC, canon ASC) AS slot FROM uj)
       |SELECT canon, url, domain, reason, last_fetch_s,
       |  CAST($now AS BIGINT) - last_fetch_s AS age_s, pr,
       |  CAST(slot AS INT) AS slot
       |FROM ufs WHERE slot <= 10""".stripMargin
  }

  /** The q223 oracle — the flat urlset entries regenerated (the
    * q197 `sm`/`sl` chain, gates deliberately absent per the
    * resolver's contract), per-canon MAX lastmod as epoch seconds,
    * intersected with the q196 latest-fetch reduction (the raw-log
    * replay the maintained artifact is pinned equal to), the
    * strictly-newer filter, and the q196 politeness tail.
    */
  private lazy val q223Sql = {
    val base = 1767225600L
    s"""WITH tsm AS (SELECT generate_series AS k,
       |  concat('<?xml version="1.0"?><urlset>',
       |  array_to_string(list_transform(range(0, 10), i -> concat(
       |    '<url><loc>https://w', cast((generate_series + 2 * i) % 7 AS varchar),
       |    '.s', cast(generate_series AS varchar), '.example/p/',
       |    cast((generate_series + i) % 11 AS varchar),
       |    '</loc><lastmod>2026-01-',
       |    lpad(cast(1 + (generate_series + i) % 28 AS varchar), 2, '0'),
       |    '</lastmod></url>')), ''),
       |  '<url><loc>https://w', cast(generate_series % 7 AS varchar),
       |  '.s', cast(generate_series AS varchar), '.example/p/',
       |  cast(generate_series % 11 AS varchar),
       |  '</loc><lastmod>2026-01-',
       |  lpad(cast(1 + (generate_series + 14) % 28 AS varchar), 2, '0'),
       |  '</lastmod></url>',
       |  '</urlset>') AS xml
       |  FROM generate_series(0, 12)),
       |tl0 AS (SELECT unnest(regexp_extract_all(xml,
       |  '(?s)<[Uu][Rr][Ll]>.*?</[Uu][Rr][Ll]>', 0)) AS e FROM tsm),
       |tl1 AS (SELECT
       |  regexp_extract(e, '<[Ll][Oo][Cc]>([^<]*)</[Ll][Oo][Cc]>', 1)
       |    AS url,
       |  regexp_extract(e,
       |    '<[Ll][Aa][Ss][Tt][Mm][Oo][Dd]>([^<]*)</[Ll][Aa][Ss][Tt][Mm][Oo][Dd]>',
       |    1) AS lastmod FROM tl0),
       |tlh AS (SELECT url, lastmod,
       |  regexp_extract(url, '^(?i)(?:https?:)?//([^/?#]+)', 1) AS host
       |  FROM tl1 WHERE url <> ''),
       |tld AS (SELECT url, ${duckDomainOf("host")} AS domain,
       |  CAST(epoch(try_strptime(lastmod, '%Y-%m-%d')) AS BIGINT)
       |    AS lastmod_s
       |  FROM tlh WHERE host <> ''),
       |tdec AS (SELECT ${duckCanonOf("url")} AS canon,
       |  min(domain) AS domain, max(lastmod_s) AS lastmod_s
       |  FROM tld WHERE lastmod_s IS NOT NULL GROUP BY 1),
       |tf1 AS (SELECT $duckDirtyUrl AS url,
       |  $base + (doc_id % 97) * 3600 AS fetched_at_s FROM documents),
       |tf2 AS (SELECT $duckDirtyUrl AS url,
       |  $base + (doc_id % 97) * 3600 + 172800 AS fetched_at_s
       |  FROM documents WHERE doc_id % 5 = 0),
       |tfu AS (SELECT * FROM tf1 UNION ALL SELECT * FROM tf2),
       |tlast AS (SELECT ${duckCanonOf("url")} AS canon,
       |  (max({'ts': fetched_at_s, 'u': url})).u AS url,
       |  CAST(max(fetched_at_s) AS BIGINT) AS last_fetch_s
       |  FROM tfu GROUP BY 1),
       |tdue AS (SELECT l.canon, l.url, d.domain, d.lastmod_s,
       |  l.last_fetch_s FROM tlast l JOIN tdec d USING (canon)
       |  WHERE d.lastmod_s > l.last_fetch_s),
       |trk AS (SELECT domain, pr FROM (${hostRankSql()})),
       |tjn AS (SELECT d.*, coalesce(r.pr, 0) AS pr FROM tdue d
       |  LEFT JOIN trk r ON r.domain = d.domain),
       |tsl AS (SELECT *, row_number() OVER (PARTITION BY domain
       |  ORDER BY last_fetch_s ASC, canon ASC) AS slot FROM tjn)
       |SELECT canon, url, domain, lastmod_s, last_fetch_s,
       |  CAST(lastmod_s - last_fetch_s AS BIGINT) AS drift_s, pr,
       |  CAST(slot AS INT) AS slot
       |FROM tsl WHERE slot <= 10""".stripMargin
  }

  /** The q222 oracle — the availability algebra CLOSED over the
    * fixture: mode per domain index from the planted status
    * arithmetic (`k%7`, the 30-day cache window at `20+2k`), the
    * EFFECTIVE rule source (own domain, or `s(k-3)` for the
    * redirect-followed legs — always a 200 domain by construction),
    * the shared `rru` wildcard rules joined for parsed/cached
    * domains only, and the allow-all/disallow-all overrides applied
    * after the longest-match rank — the resolver's exact precedence.
    */
  private lazy val q222Sql =
    s"""WITH $duckRobotsRuleCtes,
       |av AS (SELECT generate_series AS k,
       |  concat('s', cast(generate_series AS varchar), '.example')
       |    AS domain FROM generate_series(0, 12)),
       |avm AS (SELECT k, domain,
       |  CASE WHEN k % 7 IN (0, 3) THEN 'parsed'
       |       WHEN k % 7 IN (1, 5, 6) THEN 'allow_all'
       |       WHEN 20 + 2 * k <= 30 THEN 'cached'
       |       ELSE 'disallow_all' END AS mode,
       |  CASE WHEN k % 7 = 3
       |       THEN concat('s', cast(k - 3 AS varchar), '.example')
       |       ELSE domain END AS src_domain
       |  FROM av),
       |acand AS (SELECT a.domain, a.mode, a.src_domain,
       |  CASE t.t WHEN 0 THEN concat('/p/', cast(j.j AS varchar))
       |       WHEN 1 THEN concat('/r/', cast(j.j AS varchar), '7')
       |       WHEN 2 THEN concat('/p/', cast(j.j AS varchar), 'feed')
       |       ELSE concat('/x?utm_', cast(j.j AS varchar)) END AS pth
       |  FROM avm a, generate_series(0, 9) j(j),
       |    generate_series(0, 3) t(t)),
       |acu AS (SELECT domain, mode, src_domain,
       |  concat('https://', domain, pth) AS url, pth AS mt
       |  FROM acand),
       |acm AS (SELECT c.*, r.prefix, r.allow FROM acu c
       |  LEFT JOIN rru r ON c.mode IN ('parsed', 'cached')
       |    AND r.domain = c.src_domain
       |    AND ${duckRobotsMatch("c.mt", "r")}),
       |acv AS (SELECT *, row_number() OVER (PARTITION BY url
       |  ORDER BY coalesce(strlen(prefix), -1) DESC, allow DESC) AS rn
       |  FROM acm)
       |SELECT domain, url, mode,
       |  CASE WHEN mode = 'allow_all' THEN true
       |       WHEN mode = 'disallow_all' THEN false
       |       ELSE coalesce(allow, true) END AS allowed,
       |  CAST(coalesce(strlen(prefix), -1) AS INT) AS rule_len
       |FROM acv WHERE rn = 1""".stripMargin

  /** The q221 oracle — the planted redirect graph regenerated from
    * `documents` (url/status/Location by `doc_id % 31`, the fixture's
    * exact arithmetic), then the chain walk as a RECURSIVE CTE: the
    * path accumulates '|'-delimited URLs for the loop check, and the
    * verdict CASE replays the resolver's precedence verbatim —
    * loop, then resolved (target not a redirecting fetch), then
    * too_deep at the 5-hop cap. The final LEFT JOIN back onto the
    * fetch table nulls `final_status` exactly where the chain left
    * the fetched set.
    */
  private lazy val q221Sql = {
    def u(k: String) = s"""concat('https://s',
       |    cast(($k) % 10 AS varchar), '.example/c/',
       |    cast($k AS varchar))""".stripMargin
    s"""WITH RECURSIVE f AS (SELECT
       |  ${u("doc_id")} AS url,
       |  CASE WHEN doc_id % 31 IN (1, 2, 3, 20, 22)
       |         OR doc_id % 31 BETWEEN 11 AND 17 THEN 301
       |       WHEN doc_id % 31 = 25 THEN 302
       |       ELSE 200 END AS status,
       |  CASE WHEN doc_id % 31 = 20 THEN ${u("doc_id + 2")}
       |       WHEN doc_id % 31 = 22 THEN ${u("doc_id - 2")}
       |       WHEN doc_id % 31 = 25 THEN
       |         concat('https://ext.example/m/', cast(doc_id AS varchar))
       |       WHEN doc_id % 31 IN (1, 2, 3)
       |         OR doc_id % 31 BETWEEN 11 AND 17 THEN ${u("doc_id + 1")}
       |       ELSE '' END AS redir
       |  FROM documents),
       |e AS (SELECT f.url AS src, f.redir AS dst,
       |    (s2.url IS NOT NULL) AS dst_is_src
       |  FROM f LEFT JOIN (SELECT DISTINCT url FROM f
       |    WHERE status BETWEEN 300 AND 399 AND redir <> '') s2
       |    ON f.redir = s2.url
       |  WHERE f.status BETWEEN 300 AND 399 AND f.redir <> ''),
       |walk AS (
       |  SELECT src AS origin, src AS cur, CAST(0 AS INTEGER) AS hops,
       |    concat('|', src, '|') AS path, CAST(NULL AS VARCHAR) AS verdict
       |  FROM e
       |  UNION ALL
       |  SELECT w.origin, e.dst, w.hops + 1,
       |    concat(w.path, e.dst, '|'),
       |    CASE WHEN strpos(w.path, concat('|', e.dst, '|')) > 0
       |           THEN 'loop'
       |         WHEN NOT e.dst_is_src THEN 'resolved'
       |         WHEN w.hops + 1 = 5 THEN 'too_deep'
       |         ELSE NULL END
       |  FROM walk w JOIN e ON w.cur = e.src
       |  WHERE w.verdict IS NULL AND w.hops < 5)
       |SELECT w.origin, w.cur AS final_url, w.hops, w.verdict,
       |  f.status AS final_status
       |FROM walk w LEFT JOIN f ON w.cur = f.url
       |WHERE w.verdict IS NOT NULL""".stripMargin
  }

  private def sitemapChainSql(extraCtes: String, smPred: String) =
    s"""WITH $duckRobotsRuleCtes,
       |${extraCtes}sm AS (SELECT generate_series AS k, concat('<?xml version="1.0"?><urlset>',
       |  array_to_string(list_transform(range(0, 10), i -> concat(
       |    '<url><loc>https://w', cast((generate_series + 2 * i) % 7 AS varchar),
       |    '.s', cast(generate_series AS varchar), '.example/p/',
       |    cast((generate_series + i) % 11 AS varchar),
       |    '</loc><lastmod>2026-01-',
       |    lpad(cast(1 + (generate_series + i) % 28 AS varchar), 2, '0'),
       |    '</lastmod></url>')), ''),
       |  '<url><loc>https://w', cast(generate_series % 7 AS varchar),
       |  '.s', cast(generate_series AS varchar), '.example/p/',
       |  cast(generate_series % 11 AS varchar),
       |  '</loc><lastmod>2026-01-',
       |  lpad(cast(1 + (generate_series + 14) % 28 AS varchar), 2, '0'),
       |  '</lastmod></url>',
       |  '</urlset>') AS xml
       |  FROM generate_series(0, 12)
       |  WHERE $smPred),
       |sl0 AS (SELECT unnest(regexp_extract_all(xml,
       |  '(?s)<[Uu][Rr][Ll]>.*?</[Uu][Rr][Ll]>', 0)) AS e FROM sm),
       |sl1 AS (SELECT
       |  regexp_extract(e, '<[Ll][Oo][Cc]>([^<]*)</[Ll][Oo][Cc]>', 1)
       |    AS url,
       |  regexp_extract(e,
       |    '<[Ll][Aa][Ss][Tt][Mm][Oo][Dd]>([^<]*)</[Ll][Aa][Ss][Tt][Mm][Oo][Dd]>',
       |    1) AS lastmod FROM sl0),
       |sl AS (SELECT *, row_number() OVER () AS rid FROM sl1
       |  WHERE url <> ''),
       |sh AS (SELECT rid, url, lastmod,
       |  regexp_extract(url, '^(?i)(?:https?:)?//([^/?#]+)', 1) AS host
       |  FROM sl),
       |sc2 AS (SELECT rid, url, lastmod, host, ${duckDomainOf("host")}
       |  AS domain FROM sh WHERE host <> ''),
       |sb AS (SELECT * FROM sc2
       |  WHERE domain NOT IN ('s2.example', 's5.example', 's11.example')),
       |spt AS (SELECT *, ${duckMatchOf("url")} AS mt FROM sb),
       |smg AS (SELECT p.rid, p.url, p.lastmod, p.domain, r.allow,
       |  row_number() OVER (PARTITION BY p.rid
       |    ORDER BY coalesce(strlen(r.prefix), -1) DESC,
       |             r.allow DESC) AS rn
       |  FROM spt p LEFT JOIN rru r ON r.domain = p.domain
       |    AND ${duckRobotsMatch("p.mt", "r")}),
       |sg AS (SELECT url, lastmod, domain FROM smg
       |  WHERE rn = 1 AND coalesce(allow, true)),
       |scand AS (SELECT ${duckCanonOf("url")} AS canon,
       |  min(url) AS url, min(domain) AS domain,
       |  CAST(count(*) AS BIGINT) AS n_refs,
       |  min(lastmod) AS lastmod FROM sg GROUP BY 1),
       |sstored AS (SELECT DISTINCT ${duckCanonOf("u")} AS canon
       |  FROM (SELECT $duckDirtyUrl AS u FROM documents)),
       |sfresh AS (SELECT c.* FROM scand c
       |  ANTI JOIN sstored s USING (canon)),
       |sranks AS (SELECT domain, pr FROM (${hostRankSql()})),
       |sj AS (SELECT f.canon, f.url, f.domain, f.n_refs, f.lastmod,
       |  coalesce(r.pr, 0) AS pr FROM sfresh f
       |  LEFT JOIN sranks r ON r.domain = f.domain),
       |sfs AS (SELECT *, row_number() OVER (PARTITION BY domain
       |  ORDER BY lastmod ASC, canon ASC) AS slot FROM sj)
       |SELECT canon, url, domain, n_refs, lastmod, pr,
       |  CAST(slot AS INT) AS slot
       |FROM sfs WHERE slot <= 10""".stripMargin

  /** The q196 oracle — the planted fetch log regenerated (first
    * fetches hour-spread, %5 == 0 keys re-fetched 48 h later), the
    * latest-fetch reduction as a named-struct max (DuckDB struct
    * comparison matches Spark's field-order semantics, url as the
    * deterministic tiebreak), the age filter, the epoch rank, and the
    * oldest-first per-domain cap. Epoch seconds as integers
    * throughout.
    */
  private lazy val q196Sql = {
    val base = 1767225600L
    val now = base + 9L * 86400L
    val ttl = 7L * 86400L
    s"""WITH rf1 AS (SELECT $duckDirtyUrl AS url,
       |  $base + (doc_id % 97) * 3600 AS fetched_at_s FROM documents),
       |rf2 AS (SELECT $duckDirtyUrl AS url,
       |  $base + (doc_id % 97) * 3600 + 172800 AS fetched_at_s
       |  FROM documents WHERE doc_id % 5 = 0),
       |rfu AS (SELECT * FROM rf1 UNION ALL SELECT * FROM rf2),
       |rlast AS (SELECT ${duckCanonOf("url")} AS canon,
       |  (max({'ts': fetched_at_s, 'u': url})).u AS url,
       |  CAST(max(fetched_at_s) AS BIGINT) AS last_fetch_s,
       |  '' AS etag, '' AS last_modified
       |  FROM rfu GROUP BY 1),
       |rdue AS (SELECT *, ${duckDomainOf(
      s"regexp_extract(url, '^(?i)(?:https?:)?//([^/?#]+)', 1)")}
       |    AS domain
       |  FROM rlast WHERE $now - last_fetch_s >= $ttl),
       |rrk AS (SELECT domain, pr FROM (${hostRankSql()})),
       |rjn AS (SELECT d.canon, d.url, d.domain, d.last_fetch_s, d.etag,
       |  d.last_modified,
       |  coalesce(r.pr, 0) AS pr FROM rdue d
       |  LEFT JOIN rrk r ON r.domain = d.domain),
       |rsl AS (SELECT *, row_number() OVER (PARTITION BY domain
       |  ORDER BY last_fetch_s ASC, canon ASC) AS slot FROM rjn)
       |SELECT canon, url, domain, last_fetch_s, etag, last_modified,
       |  CAST($now - last_fetch_s AS BIGINT) AS age_s, pr,
       |  CAST(slot AS INT) AS slot
       |FROM rsl WHERE slot <= 10""".stripMargin
  }

  /** The q195 oracle — the q191 frontier chain's stage CTEs counted
    * per domain (attributable zc → unblocked zb → robots-allowed zg →
    * candidate keys zcand → unseen zfresh → capped zfs), full-outer
    * assembled with zero fill.
    */
  private lazy val q195Sql = {
    val stages = Seq(
      ("s1", "n_links", "zc"), ("s2", "n_unblocked", "zb"),
      ("s3", "n_allowed", "zg"), ("s4", "n_keys", "zcand"),
      ("s5", "n_unseen", "zfresh"), ("s6", "n_scheduled",
        "(SELECT * FROM zfs WHERE slot <= 10)"))
    val cte = stages.map { case (n, c, src) =>
      s"""$n AS (SELECT domain, CAST(count(*) AS BIGINT) AS $c
         |  FROM $src GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    val joins = stages.tail.map(s => s"FULL JOIN ${s._1} USING (domain)")
      .mkString("\n")
    val cols = stages.map(s => s"coalesce(${s._2}, 0) AS ${s._2}")
      .mkString(", ")
    s"""WITH $duckRobotsRuleCtes,
       |${frontierCtes("z", robots = true)},
       |$cte
       |SELECT domain, $cols
       |FROM s1
       |$joins""".stripMargin
  }

  /** The CARRIED dispatch clock (q207) replayed: stage i's offsets
    * start at the per-domain state left by stages 0..i-1 (state
    * merge = advanced domains override, untouched carry forward),
    * exactly [[graft.ops.HtmlOps.scheduleWaveValidated]] ∘
    * [[graft.ops.HtmlOps.advanceSchedState]] chained in the loop's
    * clock order. Emits `cw0..cwN` (the scheduled stages, capped) and
    * `cst0..cstN+1` (the states); `stages` = (srcCte, cols) pairs.
    * Expects `sdl` in the WITH clause.
    */
  private def carriedScheduleCtes(
      stages: Seq[(String, String, String)]): String = {
    val sb = new StringBuilder
    sb.append("cst0 AS (SELECT '' AS domain, CAST(0 AS BIGINT) AS nx WHERE 1=0)")
    stages.zipWithIndex.foreach { case ((src, cols, sdl), i) =>
      sb.append(s""",
         |cw$i AS (SELECT $cols, CAST(slot AS INT) AS slot,
         |  coalesce($sdl.delay_s, 30) AS delay_s,
         |  CAST(coalesce(cst$i.nx, 0)
         |    + (slot - 1) * coalesce($sdl.delay_s, 30) AS BIGINT)
         |    AS not_before_s
         |  FROM $src LEFT JOIN $sdl USING (domain)
         |  LEFT JOIN cst$i USING (domain) WHERE slot <= 10),
         |cst${i + 1} AS (SELECT domain, coalesce(a.nx, s.nx) AS nx
         |  FROM cst$i s FULL JOIN (SELECT domain,
         |    max(not_before_s) + max(delay_s) AS nx FROM cw$i GROUP BY 1) a
         |  USING (domain))""".stripMargin)
    }
    sb.toString
  }

  /** The q192/q202 shared CTE prelude: both discovery waves, both
    * refetch waves, and the ONE carried dispatch clock threaded
    * through them in the loop's execution order (discovery 0,
    * refetch 0, discovery 1, refetch 1) — q192 reads the discovery
    * stages (cw0/cw2), q202 the refetch stages (cw1/cw3), but each
    * oracle must replay the WHOLE chain because every stage's offsets
    * depend on all prior stages' tails.
    */
  private def loopScheduleChain: String = {
    val ttl = 48L * 3600L
    val w0 = frontierCtes("wa", robots = true,
      pagePred = "doc_id >= 250 AND doc_id < 375", keyPred = "doc_id < 375")
    val w1 = frontierCtes("wb", robots = true,
      pagePred = "doc_id >= 375")
    val dCols = "canon, url, domain, n_refs, pr"
    val rCols =
      "canon, url, domain, last_fetch_s, etag, last_modified, age_s, pr"
    s"""$duckRobotsRuleCtes,
       |$duckRobotsTxtCtes,
       |$duckDelayCte,
       |eranks AS (SELECT domain, pr FROM (${hostRankSql()})),
       |$w0,
       |$w1,
       |${refetchWaveCtes("ra", "doc_id < 375",
      "doc_id >= 250 AND doc_id < 375", ttl)},
       |${refetchWaveCtes("rb", "true", "doc_id >= 375", ttl)},
       |${carriedScheduleCtes(Seq(("wafs", dCols, "sdl"),
      ("rasl", rCols, "sdl"), ("wbfs", dCols, "sdl"),
      ("rbsl", rCols, "sdl")))}"""
      .stripMargin
  }

  /** The q192 oracle — the two loop waves replayed batch-exactly:
    * wave 0 schedules from the [250, 375) pages against the keys of
    * everything fetched through that wave (the seed [0, 250) plus its
    * own batch, appended FIRST in loop order); wave 1 from [375, 500)
    * against all 500 keys. Rank stays epoch-level in both.
    */
  private lazy val q192Sql =
    s"""WITH $loopScheduleChain
       |SELECT canon, url, domain, n_refs, pr, slot, delay_s,
       |  not_before_s, CAST(0 AS BIGINT) AS wave FROM cw0
       |UNION ALL
       |SELECT canon, url, domain, n_refs, pr, slot, delay_s,
       |  not_before_s, CAST(1 AS BIGINT) AS wave FROM cw2""".stripMargin

  /** One refetch-wave CTE chain (ending in `${pfx}sl`, pre-cap): the
    * fetch log as of the wave (`logPred` bounds the docs whose fetch
    * times have been upserted), the latest-fetch reduction, "now" as
    * the WAVE's own latest fetch time (`nowPred`), the age filter,
    * the epoch rank, the oldest-first cap ordering. Expects `eranks`
    * in the WITH clause.
    */
  private def refetchWaveCtes(pfx: String, logPred: String,
                              nowPred: String, ttlS: Long): String =
    s"""${pfx}lg AS (SELECT $duckDirtyUrl AS url,
       |  1767225600 + (doc_id % 97) * 3600 AS t FROM documents
       |  WHERE $logPred),
       |${pfx}lt AS (SELECT ${duckCanonOf("url")} AS canon,
       |  (max({'t': t, 'u': url})).u AS url,
       |  CAST(max(t) AS BIGINT) AS last_fetch_s,
       |  '' AS etag, '' AS last_modified FROM ${pfx}lg GROUP BY 1),
       |${pfx}nw AS (SELECT CAST(MAX(1767225600 + (doc_id % 97) * 3600)
       |  AS BIGINT) AS now FROM documents WHERE $nowPred),
       |${pfx}du AS (SELECT l.*, n.now, ${duckDomainOf(
      "regexp_extract(l.url, '^(?i)(?:https?:)?//([^/?#]+)', 1)")}
       |    AS domain
       |  FROM ${pfx}lt l CROSS JOIN ${pfx}nw n
       |  WHERE n.now - l.last_fetch_s >= $ttlS),
       |${pfx}rj AS (SELECT d.canon, d.url, d.domain, d.last_fetch_s,
       |  d.etag, d.last_modified,
       |  CAST(d.now - d.last_fetch_s AS BIGINT) AS age_s,
       |  coalesce(r.pr, 0) AS pr
       |  FROM ${pfx}du d LEFT JOIN eranks r ON r.domain = d.domain),
       |${pfx}sl AS (SELECT *, row_number() OVER (PARTITION BY domain
       |  ORDER BY last_fetch_s ASC, canon ASC) AS slot FROM ${pfx}rj)"""
      .stripMargin

  /** The q202 oracle — both streamed waves' refetch schedules
    * replayed: wave 0's log covers the seed plus its own batch
    * (docs < 375, appended FIRST in loop order), wave 1's covers all
    * 500; each wave's "now" is its own latest fetch; the Crawl-delay
    * schedule joins exactly as q198.
    */
  private lazy val q202Sql =
    s"""WITH $loopScheduleChain
       |SELECT canon, url, domain, last_fetch_s, etag, last_modified,
       |  age_s, pr, slot,
       |  delay_s, not_before_s, CAST(0 AS BIGINT) AS wave FROM cw1
       |UNION ALL
       |SELECT canon, url, domain, last_fetch_s, etag, last_modified,
       |  age_s, pr, slot,
       |  delay_s, not_before_s, CAST(1 AS BIGINT) AS wave FROM cw3"""
      .stripMargin

  /** HtmlOps.urlTrapped mirrored: char-length cap + duplicate path
    * segments beyond the distinct set (count-based — RE2 has no
    * backreferences, so both engines run the identical rule).
    */
  private def duckTrapPred(u: String): String = {
    val segs = s"list_filter(string_split(regexp_extract($u, " +
      "'^(?i)(?:https?:)?//[^/?#]+([^?#]*)', 1), '/'), x -> x <> '')"
    s"(length($u) > 2048 OR (len($segs) - len(list_distinct($segs))) > 3)"
  }

  /** The q216 oracle — the planted trap corpus regenerated, the trap
    * verdict replayed per row.
    */
  private lazy val q216Sql =
    s"""WITH tu AS (SELECT doc_id,
       |  concat('https://w', cast(doc_id % 7 AS varchar), '.example',
       |    CASE WHEN doc_id % 7 = 0 THEN '/t/t/t/t/t/t/'
       |         WHEN doc_id % 7 = 1 THEN concat('/', repeat('a', 2100), '/')
       |         ELSE concat('/d/', cast(doc_id % 5 AS varchar), '/x/') END,
       |    cast(doc_id AS varchar)) AS url FROM documents)
       |SELECT doc_id, url, CAST(length(url) AS BIGINT) AS n_chars,
       |  ${duckTrapPred("url")} AS trapped
       |FROM tu""".stripMargin

  /** The q217 oracle — leg-closed: the declared lengths regenerate
    * from the same html expression; every leg's body decodes (the
    * truncated-IDENTITY leg is precisely the one only the length
    * check catches), and the verdict is the leg's by construction.
    */
  private lazy val q217Sql =
    s"""WITH lp AS (SELECT doc_id, $duckHtml AS html FROM documents)
       |SELECT doc_id,
       |  CASE WHEN doc_id % 4 = 0 THEN CAST(length(html) AS BIGINT)
       |       WHEN doc_id % 4 = 1 THEN CAST(length(html) + 5 AS BIGINT)
       |       WHEN doc_id % 4 = 2 THEN CAST(length(html) + 7 AS BIGINT)
       |       ELSE NULL END AS http_content_length,
       |  CASE WHEN doc_id % 4 = 2 THEN 'chunked' ELSE '' END
       |    AS transfer_encoding,
       |  true AS body_ok,
       |  (doc_id % 4 <> 1) AS body_len_ok
       |FROM lp""".stripMargin

  /** HtmlOps.resolvedUrl mirrored (RFC 3986 §5.2): own authority
    * stays; server-relative dot-normalizes onto the host;
    * query-only/fragment-only references keep the base; everything
    * else merges against the base path's directory and
    * dot-normalizes. `bp` defaults to the root base the plain-HTML
    * flows use.
    */
  private def duckResolvedUrl(u: String, h: String,
                              bp: String = "'/'"): String = {
    val dir =
      s"""CASE WHEN coalesce(regexp_extract($bp, '^(.*/)', 1), '') = ''
         |  THEN '/' ELSE regexp_extract($bp, '^(.*/)', 1) END""".stripMargin
    s"""CASE WHEN regexp_matches($u, '^(?i)(?:https?:)?//') THEN $u
       |     WHEN starts_with($u, '/')
       |       THEN concat('//', $h, ${duckRemoveDots(u)})
       |     WHEN starts_with($u, '?')
       |       THEN concat('//', $h, coalesce($bp, '/'), $u)
       |     WHEN starts_with($u, '#')
       |       THEN concat('//', $h, coalesce($bp, '/'))
       |     ELSE concat('//', $h,
       |       ${duckRemoveDots(s"concat($dir, $u)")}) END""".stripMargin
  }

  /** HtmlOps.robotsGate's path extraction mirrored: authority URLs
    * use their own path; a server-relative href IS its path;
    * everything else has none. (DuckDB's regexp_extract returns ''
    * on no match, same as Spark — the coalesce here is belt and
    * braces for the guarded branches, not a semantic divergence.)
    */
  private def duckPathOf(u: String): String =
    s"""CASE
       |  WHEN regexp_matches($u, '^(?i)(?:https?:)?//')
       |  THEN coalesce(regexp_extract($u,
       |    '^(?i)(?:https?:)?//[^/?#]+([^?#]*)', 1), '')
       |  WHEN starts_with($u, '/')
       |  THEN coalesce(regexp_extract($u, '^([^?#]*)', 1), '')
       |  ELSE '' END""".stripMargin

  /** robotsGate's match TARGET mirrored: path PLUS query (stop at
    * `#` only) — `Disallow: /\*?utm_` must see the query string.
    */
  private def duckMatchOf(u: String): String =
    s"""CASE
       |  WHEN regexp_matches($u, '^(?i)(?:https?:)?//')
       |  THEN coalesce(regexp_extract($u,
       |    '^(?i)(?:https?:)?//[^/?#]+([^#]*)', 1), '')
       |  WHEN starts_with($u, '/')
       |  THEN coalesce(regexp_extract($u, '^([^#]*)', 1), '')
       |  ELSE '' END""".stripMargin

  /** The RFC 9309 §2.2.3 rule match mirrored (graft side:
    * [[graft.functions.UrlOps.robotsMatches]], a native byte-walk):
    * wildcard-free rules stay the plain prefix compare; a rule
    * carrying `*` or a trailing `$` is compiled to an RE2 regex —
    * escape the metachars, then `\\*` → `.*` and a trailing `\\$` →
    * the end anchor — anchored at the start ((?s) so a stray control
    * char in a target can never break the `.*` span). The explicit
    * `<> ''` guard keeps no-path references (mailto:, bare authority)
    * matching nothing: a leading-`*` pattern would otherwise match
    * the empty target. PropertySpec pins this regex construction
    * equal to the byte-walk on randomized patterns/targets.
    */
  private def duckRobotsMatch(mt: String, r: String): String =
    s"""($mt <> '' AND CASE
       |  WHEN $r.prefix LIKE '%*%' OR $r.prefix LIKE '%$$'
       |  THEN regexp_matches($mt, '(?s)^' ||
       |    regexp_replace(regexp_replace(regexp_replace($r.prefix,
       |      '([.^$$|?*+()\\[\\]{}\\\\])', '\\\\\\1', 'g'),
       |      '\\\\\\*', '.*', 'g'),
       |      '\\\\\\$$$$', '$$', 'g'))
       |  ELSE starts_with($mt, $r.prefix) END)""".stripMargin

  /** HtmlOps.plantedRobotsTxt regenerated byte-identically from
    * `generate_series`, plus the star-group body extraction — the
    * CTEs the q199 parse oracle and the q198 delay derivation share.
    * (`e''` strings: DuckDB only unescapes \n in escaped literals.)
    */
  private lazy val duckRobotsTxtCtes = {
    val gs = "generate_series"
    val nl = "\n" // real newline bytes inside the SQL literals, the
                  // $cr convention of duckWarcChain
    val cr = "\r" // the CRLF legs carry a real carriage-return byte
    s"""rtxt AS (SELECT
       |  concat('s', cast($gs AS varchar), '.example') AS domain,
       |  concat('# robots.txt for s', cast($gs AS varchar),
       |    '.example$nl',
       |    CASE WHEN $gs % 2 = 1
       |      THEN concat('Sitemap: https://s', cast($gs AS varchar),
       |        '.example/sitemap.xml$nl') ELSE '' END,
       |    CASE WHEN $gs % 4 = 0
       |      THEN 'Sitemap: /sitemap.xml$nl' ELSE '' END,
       |    CASE WHEN $gs % 3 = 0
       |      THEN 'User-agent: badbot${nl}Disallow: /$nl$nl' ELSE '' END,
       |    'User-agent: *$nl',
       |    CASE WHEN $gs % 2 = 0
       |      THEN 'Disallow: /p/ # tracked section${nl}Allow: /p/1$nl'
       |      ELSE '' END,
       |    CASE WHEN $gs % 4 = 1
       |      THEN 'Disallow: /${nl}Allow: /nav$nl' ELSE '' END,
       |    CASE WHEN $gs % 4 = 2 THEN 'Allow: /p/$nl' ELSE '' END,
       |    CASE WHEN $gs % 5 = 2 THEN 'Disallow: /*?utm_$nl' ELSE '' END,
       |    CASE WHEN $gs % 3 = 0 THEN 'Disallow: /r/*7$$$nl' ELSE '' END,
       |    CASE WHEN $gs = 7 THEN 'Allow: /p/*feed$$$nl' ELSE '' END,
       |    CASE WHEN $gs % 5 = 3 THEN 'Disallow:$nl' ELSE '' END,
       |    CASE WHEN $gs % 6 = 4 THEN 'Disallow: /crlf/$cr$nl'
       |      ELSE '' END,
       |    CASE WHEN $gs <= 9 THEN concat('Crawl-delay: ',
       |      cast(5 + ($gs % 4) * 10 AS varchar),
       |      CASE WHEN $gs % 3 = 0 THEN ' # be nice' ELSE '' END,
       |      CASE WHEN $gs % 6 = 4 THEN '$cr$nl' ELSE '$nl' END)
       |      ELSE '' END,
       |    CASE WHEN $gs % 3 = 1
       |      THEN '${nl}User-agent: badbot${nl}Disallow: /private$nl'
       |      ELSE '' END) AS txt
       |  FROM generate_series(0, 12)),
       |rbody AS (SELECT domain,
       |  coalesce(array_to_string(
       |    list_filter(string_split(txt, 'User-agent: '),
       |      s -> starts_with(s, '*')), chr(10)), '') AS body
       |  FROM rtxt)""".stripMargin
  }

  /** The q199 oracle — the raw robots bytes regenerated, the star
    * group isolated, directives extracted line-anchored, empty rule
    * values dropped — the full parse chain replayed.
    */
  private lazy val q199Sql = {
    val nl = "\n"
    val cr = "\r"
    def dir(cte: String, name: String, allow: Boolean) =
      s"""$cte AS (SELECT domain, $allow AS allow, rtrim(p) AS prefix
         |  FROM (SELECT domain, unnest(regexp_extract_all(body,
         |    '(?m)^$name:[ \t]*([^$cr$nl#]*)', 1)) AS p FROM rbody))"""
        .stripMargin
    s"""WITH $duckRobotsTxtCtes,
       |${dir("rdis", "[Dd]isallow", allow = false)},
       |${dir("ralw", "[Aa]llow", allow = true)}
       |SELECT domain, allow, prefix
       |FROM (SELECT * FROM rdis UNION ALL SELECT * FROM ralw)
       |WHERE prefix <> ''""".stripMargin
  }

  /** The q198 delay table DERIVED from the regenerated robots bytes —
    * the same Crawl-delay extraction [[graft.ops.HtmlOps.parseCrawlDelays]]
    * runs; expects [[duckRobotsTxtCtes]] in the WITH clause.
    */
  private lazy val duckDelayCte = {
    val cr = "\r"
    // the value tolerates trailing blanks, an inline '# comment', and
    // a CRLF terminator — HtmlOps.parseCrawlDelays's exact pattern
    s"""sdl AS (SELECT domain, CAST(ds AS BIGINT) AS delay_s FROM
       |  (SELECT domain, regexp_extract(body,
       |     '(?m)^[Cc]rawl-[Dd]elay:[ \t]*([0-9]+)[ \t]*(?:#[^\n]*)?$cr?$$',
       |     1) AS ds
       |   FROM rbody)
       |  WHERE ds <> '' AND CAST(ds AS BIGINT) >= 1)""".stripMargin
  }

  /** HtmlOps.plantedRobotsRules regenerated from `generate_series` —
    * the `rru` CTE both robots oracles (q190, q191) join against.
    */
  private lazy val duckRobotsRuleCtes =
    s"""rdm AS (SELECT generate_series AS k,
       |  concat('s', cast(generate_series AS varchar), '.example')
       |    AS domain FROM generate_series(0, 12)),
       |rru AS (
       |  SELECT domain, false AS allow, '/p/' AS prefix FROM rdm
       |    WHERE k % 2 = 0
       |  UNION ALL SELECT domain, true, '/p/1' FROM rdm WHERE k % 2 = 0
       |  UNION ALL SELECT domain, false, '/' FROM rdm WHERE k % 4 = 1
       |  UNION ALL SELECT domain, true, '/nav' FROM rdm WHERE k % 4 = 1
       |  UNION ALL SELECT domain, true, '/p/' FROM rdm WHERE k % 4 = 2
       |  UNION ALL SELECT domain, false, '/*?utm_' FROM rdm WHERE k % 5 = 2
       |  UNION ALL SELECT domain, false, '/r/*7$$' FROM rdm WHERE k % 3 = 0
       |  UNION ALL SELECT domain, true, '/p/*feed$$' FROM rdm WHERE k = 7
       |  UNION ALL SELECT domain, false, '/crlf/' FROM rdm WHERE k % 6 = 4)"""
      .stripMargin

  /** The q190 oracle — outlinks with hosts (the q173 chain), the
    * planted rules regenerated from `generate_series`, longest-match
    * replayed as a prefix-match LEFT JOIN plus a per-link
    * `(strlen(prefix), allow)` rank — allow wins length ties, no
    * match means allowed.
    */
  private lazy val q190Sql =
    s"""WITH rp AS (SELECT doc_id, $duckFetchHost AS fetch_host,
       |  $duckHtml AS html FROM documents),
       |rl0 AS (SELECT doc_id, fetch_host,
       |  unnest(regexp_extract_all(html, '[Hh][Rr][Ee][Ff]="([^"]*)"', 1))
       |    AS url FROM rp),
       |rl AS (SELECT *, row_number() OVER () AS rid FROM rl0),
       |rh AS (SELECT rid, doc_id, url, ${duckLinkHost("url")} AS host
       |  FROM rl),
       |rc AS (SELECT rid, doc_id, url, host, ${duckDomainOf("host")}
       |  AS domain FROM rh WHERE host <> ''),
       |rb AS (SELECT *, domain IN ('s2.example', 's5.example',
       |  's11.example') AS blocked FROM rc),
       |rpt AS (SELECT *, ${duckPathOf("url")} AS path,
       |  ${duckMatchOf("url")} AS mt FROM rb),
       |$duckRobotsRuleCtes,
       |rm AS (SELECT p.rid, p.doc_id, p.url, p.host, p.domain, p.blocked,
       |  p.path, r.prefix, r.allow FROM rpt p LEFT JOIN rru r
       |  ON r.domain = p.domain AND ${duckRobotsMatch("p.mt", "r")}),
       |rv AS (SELECT *, row_number() OVER (PARTITION BY rid
       |  ORDER BY coalesce(strlen(prefix), -1) DESC, allow DESC) AS rn
       |  FROM rm)
       |SELECT doc_id, url, host, domain, blocked, path,
       |  coalesce(allow, true) AS allowed,
       |  CAST(coalesce(strlen(prefix), -1) AS INT) AS rule_len
       |FROM rv WHERE rn = 1""".stripMargin

  /** The q189 oracle — both canonical keys per planted param URL,
    * duplicate-group sizes under each, keep-first verdict under the
    * conservative key.
    */
  private lazy val q189Sql =
    s"""WITH pu AS (SELECT doc_id, $duckParamUrl AS url FROM documents),
       |pk AS (SELECT doc_id, url,
       |  ${duckCanonOf("url")} AS canon,
       |  ${duckCanonParamsOf("url", Seq("id", "page"))} AS canon_p
       |  FROM pu)
       |SELECT doc_id, url, canon, canon_p,
       |  CAST(count(*) OVER (PARTITION BY canon) AS BIGINT) AS n_dups,
       |  CAST(count(*) OVER (PARTITION BY canon_p) AS BIGINT) AS n_dups_p,
       |  (row_number() OVER (PARTITION BY canon_p ORDER BY doc_id) = 1)
       |    AS is_canonical
       |FROM pk""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    // the fit EVALUATED (q193): per-round confusion matrix against
    // the planted labels — one scan, 4·iters bounded aggregates, the
    // promote-or-not curve a training pipeline reads
    QueryDef("q193_fit_eval", family, (s, dir) =>
      TextOps.qualityFitEval(t(s, dir, "documents")),
      // per-round confusion counts over the replayed trajectory
      qualityFitEvalSql()),
    // the fetch-ordering decision: outlinks → canonical candidates →
    // anti-join the maintained key set (q178) → domain-rank priority
    // (q180) → politeness cap per domain
    QueryDef("q187_crawl_frontier", family, crawlFrontierQuery,
      q187Sql),
    // the domain-rank table as a PERSISTED artifact (q188): saved once
    // per crawl epoch (full recompute — vocabulary-sized state, the
    // honest policy for a global fixed point), reloaded gated on the
    // recorded iters/scale meta; the frontier reads THIS per wave
    QueryDef("q188_rank_artifact", family, domainRankArtifact,
      // persisted rank artifact: the reload must replay the exact q180
      // trajectory — same SQL, artifact layout is Spark-side only
      hostRankSql()),
    // the conservative canonical key (q189): allowlisted query params
    // survive (sorted) into the key, refining the aggressive grouping
    // — the dedup audit a crawl runs before switching keys
    QueryDef("q189_param_canonical", family, (s, dir) => HtmlOps.urlParamDedup(
      HtmlOps.plantedParamUrlCorpus(t(s, dir, "documents"))),
      // both canonical keys per URL with group sizes under each; the
      // conservative-key windows share their partition on both sides
      q189Sql),
    // robots-exclusion gate (q190): RFC 9309 longest-match over a
    // parsed per-domain rules table — broadcast rule sets, per-row
    // array-pipeline verdict, zero corpus-side shuffles
    QueryDef("q190_robots_gate", family, (s, dir) => HtmlOps.robotsGate(
      HtmlOps.htmlOutlinks(
          HtmlOps.plantedHtmlCorpus(t(s, dir, "documents")),
          baseHostCol = Some("fetch_host"))
        .filter(col("host") =!= "").drop("link_idx"),
      HtmlOps.plantedRobotsRules(s)),
      // robots gate: the oracle replays longest-match as a rule join +
      // per-link rank (Spark does it as a per-row array pipeline)
      q190Sql),
    // the polite frontier (q191): q187's wave with the robots gate
    // thinning candidates before canonicalization — blocklist →
    // robots → unseen → rank priority → per-domain cap
    QueryDef("q191_polite_frontier", family, politeFrontierQuery,
      // polite frontier: q187's oracle with the robots gate CTEs
      // inserted before the candidate aggregation
      q191Sql),
    // the crawl loop under Structured Streaming (q192): per
    // micro-batch, keys append FIRST, then the next wave computes
    // against the updated set — replay-safe on both sides
    QueryDef("q192_stream_crawl_loop", family, streamCrawlLoopQuery,
      // streaming crawl loop: both waves replayed batch-exactly in one
      // query (prefixed frontier chains, keys as of each wave)
      q192Sql),
    // anchor-text mining (q194): the visible text of every link
    // aggregated per canonical target — the weak-label signal; one
    // (canon, term) shuffle with map-side combine
    QueryDef("q194_anchor_terms", family, (s, dir) => HtmlOps.anchorTerms(
      HtmlOps.plantedHtmlCorpus(t(s, dir, "documents"))),
      // anchor terms: whole-element extraction, per-element href/text,
      // the frontier's resolution + canon, token counts per target
      q194Sql),
    // the crawl funnel (q195): per-domain survival counts through
    // every frontier stage — the "where did domain X drop" rollup
    QueryDef("q195_crawl_funnel", family, (s, dir) => HtmlOps.crawlFunnel(
      HtmlOps.plantedHtmlCorpus(t(s, dir, "documents")),
      frontierScope(s, dir), "urlkeys",
      HtmlOps.plantedRobotsRules(s)),
      // crawl funnel: the frontier chain's per-stage cardinalities
      // rolled up by domain, full-outer assembled with zero fill
      q195Sql),
    // the refetch wave (q196): recrawl scheduling from the fetch log
    // — latest fetch per key decides staleness, oldest-first under
    // the politeness cap; the steady-state twin of q191's discovery
    QueryDef("q196_refetch_wave", family, (s, dir) => HtmlOps.refetchWave(
      HtmlOps.plantedFetchLog(t(s, dir, "documents")),
      nowS = 1767225600L + 9L * 86400L, ttlS = 7L * 86400L,
      ranks = epochRanks(s, dir)),
      // refetch wave: latest-fetch struct-max reduction, age filter,
      // rank join, oldest-first politeness cap — all-integer time
      q196Sql),
    // sitemap seeding (q197): publisher-declared URLs through the
    // SAME admission pipeline as link candidates — blocklist, robots,
    // anti-join, rank, cap (the shared frontier tail)
    QueryDef("q197_sitemap_seeds", family, (s, dir) => HtmlOps.sitemapSeeds(
      HtmlOps.plantedSitemaps(s), frontierScope(s, dir), "urlkeys",
      epochRanks(s, dir), HtmlOps.plantedRobotsRules(s)),
      // sitemap seeds: regenerated XML, loc extraction, blocklist +
      // robots + anti-join + rank + cap replayed
      q197Sql),
    // wave scheduling (q198): politeness slots become fetch offsets —
    // slot n fires no earlier than (n-1) x crawl_delay, default for
    // domains that publish none; broadcast join, no new shuffle. The
    // delays are PARSED from the raw robots bytes (q199), no longer a
    // planted side table
    QueryDef("q198_wave_schedule", family, (s, dir) => HtmlOps.scheduleWave(
      politeFrontierQuery(s, dir),
      HtmlOps.parseCrawlDelays(HtmlOps.plantedRobotsTxt(s))),
      // wave scheduling: the q191 wave joined to the regenerated delay
      // table, (slot-1) x delay with the default fallback
      q198Sql),
    // robots.txt parse (q199): raw fetched bytes to the rule table
    // every robots consumer joins against — group-scoped to our
    // user-agent, hostile groups excluded, empty rule values dropped
    QueryDef("q199_robots_parse", family, (s, dir) =>
      HtmlOps.parseRobotsRules(HtmlOps.plantedRobotsTxt(s)),
      // robots.txt parse: bytes regenerated, star group isolated,
      // directives extracted, empty values dropped
      q199Sql),
    // maintained fetch-log artifact (q200): the raw log absorbed as
    // two O(batch) upserts (seed, then the refetch wave), the due set
    // read from the artifact — q196's semantics with the reduction
    // maintained instead of recomputed
    QueryDef("q200_fetchlog_artifact", family, fetchLogWaveQuery,
      // maintained fetch log: the raw-log reduction replayed — the
      // artifact is layout, not semantics (q196's oracle verbatim)
      q196Sql),
    // anchor-boosted frontier (q201): q191's polite wave with the
    // q194 anchor-term signal reordering the politeness slots —
    // boost-term targets outrank reference count within a domain
    QueryDef("q201_anchor_frontier", family, (s, dir) => HtmlOps.anchorBoostedFrontier(
      HtmlOps.plantedHtmlCorpus(t(s, dir, "documents")),
      frontierScope(s, dir), "urlkeys", epochRanks(s, dir),
      HtmlOps.plantedRobotsRules(s)),
      // anchor-boosted frontier: the q191 chain re-capped under the
      // anchor-score ordering, scores from the embedded q194 replay
      q201Sql),
    // the loop's refetch side (q202): per streamed wave, the
    // scheduled refetch of the maintained log's stale keys — the
    // crawl steady state (discover the unseen + refresh the seen)
    // emitted from the same artifacts in the same run as q192
    QueryDef("q202_steady_refetch", family, steadyRefetchQuery,
      // steady-state refetch: both waves' due sets from the maintained
      // log, each at its own wave-time "now", schedule joined
      q202Sql),
    // the WARC-fed loop (q203): raw archive chunks stream in, frame +
    // HTTP-gate per batch, only VALID fetches enter the key set, and
    // the scheduled wave comes off the gated bodies — archive bytes
    // in, fetch schedules out
    QueryDef("q203_stream_warc_loop", family, streamWarcLoopQuery,
      // WARC-fed loop: waves replayed with framed+gated chunk bytes as
      // pages and valid-fetch-only keys
      q203Sql),
    // artifact compaction (q209): the epoch pass that bounds the
    // maintained log's file count — the refetch wave over a compacted
    // log must equal q200's exactly (the shared q196 oracle)
    QueryDef("q209_compacted_fetchlog", family, compactedFetchLogQuery,
      // compaction is layout, not semantics: q196's oracle verbatim
      q196Sql),
    // the retry-gated frontier (q211): the wave defers canons whose
    // last ATTEMPT is younger than the retry TTL — in flight or
    // failed too recently — instead of hammering them every wave;
    // aged-out attempts compete again on equal terms
    QueryDef("q211_retry_frontier", family, retryFrontierQuery,
      // retry gate: the identical chain minus the still-fresh attempts
      q211Sql),
    // the gzip-fed loop (q210): the q203 loop ingesting BINARY
    // per-record-gzip chunks — the wire format archives actually land
    // in — inflated in-stream ahead of the identical pipeline; held
    // to q203's oracle verbatim (inflate ∘ frame ≡ frame)
    QueryDef("q210_stream_gzip_loop", family, streamGzipLoopQuery,
      // gzip-fed loop: inflate ∘ frame ≡ frame — q203's oracle verbatim
      q203Sql),
    // in-stream robots maintenance (q208): a robots.txt fetch riding
    // wave 0 of the WARC stream flips a domain's policy — wave 1's
    // gate blocks that domain's /p/ links and its schedule uses the
    // NEW Crawl-delay, all from the maintained robots artifact
    QueryDef("q208_stream_robots_loop", family, streamRobotsLoopQuery,
      // in-stream robots maintenance: wave 1 replayed under the policy
      // the wave-0 robots fetch flipped
      q208Sql),
    // cross-wave politeness (q207): two discovery waves on ONE
    // carried dispatch clock — wave 1's offsets start at wave 0's
    // per-domain tail plus the parsed Crawl-delay, never at zero
    QueryDef("q207_carried_schedule", family, carriedScheduleQuery,
      // carried dispatch clock: wave 1 replayed from wave 0's tails
      q207Sql),
    // the gzip front door (q206): per-record gzip members inflated by
    // a mapPartitions seam, then the UNCHANGED q184 chain — held to
    // q184's own oracle (the q61 identical-result pattern: DuckDB
    // cannot gunzip, so the decompressed chain must be bit-identical
    // to the uncompressed one)
    QueryDef("q206_gzip_warc", family, (s, dir) => HtmlOps.warcIngest(
      HtmlOps.gunzipWarcChunks(
        HtmlOps.plantedGzipWarcCorpus(t(s, dir, "documents")))),
      // gzip front door: decompress-then-frame must equal frame — the
      // q184 oracle verbatim (the q61 identical-result pattern)
      q184Sql),
    // the redirect-aware frontier (q205): 3xx Location targets join
    // the outlinks as discovery candidates — blocklist/robots-gated,
    // anti-joined, capped on equal terms; the /r/ targets nothing
    // links can only be discovered through this channel
    QueryDef("q205_redirect_frontier", family, redirectFrontierQuery,
      // redirect-aware frontier: both discovery channels replayed from
      // the regenerated chunk bytes into one candidate aggregation
      q205Sql),
    // the fetch funnel (q204): per target domain, chunk survival
    // through framing -> HTTP gate -> wire decode -> page verdict —
    // the archive-side twin of q195's link funnel; one scan, one
    // bounded aggregation
    QueryDef("q204_fetch_funnel", family, (s, dir) => HtmlOps.fetchFunnel(
      HtmlOps.plantedWarcCorpus(t(s, dir, "documents"))),
      // fetch funnel: the regenerated chunks' stage flags counted per
      // target domain (malformed chunks roll up under '')
      q204Sql),
    // content-encoded bodies (q212): gzip/deflate/zstd HTTP bodies
    // inflated per-row (structural CRC/ISIZE — and for zstd the
    // RFC 8878 frame walk of the pure-JVM decoder Spark itself
    // ships — verification) BEFORE the charset seam — held to the
    // uncompressed twin's extraction (the q206 bit-identical
    // pattern); the lying-encoding legs (%17==3 declared gzip,
    // %17==9 declared zstd, both over plain bytes) are body_ok
    // verdicts
    QueryDef("q212_content_encoding", family, (s, dir) => HtmlOps.httpFrame(
        HtmlOps.plantedEncodedMessages(t(s, dir, "documents")))
      .select(col("doc_id"), col("http_status"), col("mime"),
        col("content_encoding"), col("body_ok"),
        HtmlOps.titleOf(col("body")).as("title"),
        HtmlOps.extractedText(col("body")).as("text_clean")),
      // the uncompressed twin's extraction verbatim — inflate ∘ deflate
      // = id is the check (DuckDB cannot gunzip; the q206 pattern)
      q212Sql),
    // conditional refetch (q213): the refetch wave ships the log's
    // stored ETag (If-None-Match); a 304 refreshes last_fetch_s and
    // the validator via the standard struct-max upsert WITHOUT a
    // content write, a 200 rewrites both — fetch → 304 → staleness
    // clock reset, content hash unchanged, replayed by the oracle
    QueryDef("q213_conditional_refetch", family, conditionalRefetchQuery,
      // fetch → 304/200 → clock reset replayed closed-form per canon
      q213Sql),
    // the retry gate IN the streaming loop (q214): every dispatched
    // slot stamps the attempt log in-wave; the next wave's frontier
    // defers fresh attempts and re-admits aged-out ones — defer →
    // age-out → re-compete across three streamed waves of the SAME
    // archive slice, on the one carried dispatch clock
    QueryDef("q214_stream_retry_loop", family, streamRetryLoopQuery,
      // defer → age-out → re-compete across three streamed waves
      q214Sql),
    // sitemap TREE seeding (q215): <sitemapindex> roots recurse one
    // level into GZIPPED members (inflated through the structurally
    // verified gzip door), then the identical admission tail — held
    // to the flat fixture's oracle verbatim (tree ∘ inflate ≡ flat)
    QueryDef("q215_sitemap_tree", family, (s, dir) => HtmlOps.sitemapSeedsTree(
      HtmlOps.plantedSitemapTree(s), frontierScope(s, dir), "urlkeys",
      epochRanks(s, dir), HtmlOps.plantedRobotsRules(s)),
      // the FLAT sitemap oracle verbatim (the q206 identical-result
      // pattern): index recursion + member inflation must admit
      // bit-identically what the flat file admits
      q197Sql),
    // crawl-trap guards (q216): URL length cap + repeated-path-segment
    // verdict as pure expressions — the admission chain's cheap
    // insurance, wired into frontier candidates on both engines
    QueryDef("q216_trap_guard", family, (s, dir) =>
      HtmlOps.plantedTrapUrlCorpus(t(s, dir, "documents"))
        .select(col("doc_id"), col("url"),
          length(col("url")).cast("long").as("n_chars"),
          HtmlOps.urlTrapped(col("url")).as("trapped")),
      // the trap verdict replayed per planted row
      q216Sql),
    // wire-length cross-check (q217): a declared Content-Length vs
    // the RECEIVED body's length (the content-coded octets RFC 9110
    // §8.6 counts) — the only gate that catches a TRUNCATED IDENTITY
    // body (frames, 200 text/html, decodes: every other gate passes
    // it); ignored under a Transfer-Encoding per RFC 9112 §6.3 (the
    // deliberately-lying chunked leg must NOT fire)
    QueryDef("q217_body_length_check", family, (s, dir) => HtmlOps.httpFrame(
        HtmlOps.plantedLengthMessages(t(s, dir, "documents")))
      .select(col("doc_id"), col("http_content_length"),
        col("transfer_encoding"), col("body_ok"), col("body_len_ok")),
      q217Sql),
    // WARC revisit records (q218): the archive-side dedup convention
    // — WARC-Type: revisit + WARC-Payload-Digest resolved against the
    // content store's latest version; a CONFIRMED digest resets the
    // staleness clock with zero content writes and surviving
    // validators, an unconfirmable one is a verdict and the key
    // stays due
    QueryDef("q218_warc_revisit", family, warcRevisitQuery,
      // revisit resolution: clock reset iff the digest confirms against
      // the stored argmax body; validators and content bit-identical to
      // wave 1 throughout
      q218Sql),
    // heuristic-freshness refetch (q219, RFC 9111 §4.2.2): TTL per
    // canon = 10% of the age-since-Last-Modified at fetch time,
    // clamped to [1d, 30d]; absent/garbage/future dates take the
    // default — churny pages recrawl first, static ones rest
    QueryDef("q219_heuristic_refetch", family, (s, dir) =>
      HtmlOps.heuristicRefetchWave(
        HtmlOps.plantedValidatorLog(s, 1767225600L),
        nowS = 1767225600L + 3L * 86400L,
        defaultTtlS = 7L * 86400L, minTtlS = 86400L,
        maxTtlS = 30L * 86400L, ranks = epochRanks(s, dir)),
      // heuristic freshness: the date parse (weekday stripped), the
      // 10% TTL clamp, and the stalest-first cap replayed per key
      q219Sql),
    // sitemap discovery via robots (q220): the file-wide `Sitemap:`
    // declarations (parsed from raw bytes, absolute-URL-only) select
    // the tree roots instead of the conventional /sitemap.xml name —
    // the channel real publishers actually use; the walk + admission
    // tail are q215's verbatim
    QueryDef("q220_sitemap_discovery", family, (s, dir) => HtmlOps.sitemapSeedsTree(
      HtmlOps.plantedSitemapTree(s), frontierScope(s, dir), "urlkeys",
      epochRanks(s, dir), HtmlOps.plantedRobotsRules(s),
      rootUrls = Some(HtmlOps.parseSitemapDecls(
        HtmlOps.plantedRobotsTxt(s)).select(col("url")))),
      // sitemap discovery: the Sitemap: decls parsed from the
      // regenerated robots bytes select the admitted urlsets
      q220Sql),
    // redirect chain resolution (q221): every fetched 3xx walked to
    // its FINAL address through bounded waves over the pinned edge
    // table — planted 3- and 7-runs, an A→B→A cycle, and an
    // out-of-corpus 302; loop/too_deep verdicts at the 5-hop cap,
    // oracle-replayed as a recursive CTE with the same precedence
    QueryDef("q221_redirect_chains", family, (s, dir) => HtmlOps.resolveRedirectChains(
      HtmlOps.httpFrame(
        HtmlOps.plantedRedirectMessages(t(s, dir, "documents")))),
      // redirect chains: the planted runs walked by a recursive CTE
      // with the identical loop/resolved/too_deep precedence
      q221Sql),
    // robots availability semantics (q222): the RFC 9309 §2.3.1
    // algebra — 4xx allow-all, 5xx cached-while-fresh / disallow-all
    // after, 3xx followed through the q221 chain resolver (loops =
    // unavailable), all over the planted per-domain fetch outcomes
    QueryDef("q222_robots_availability", family, (s, dir) =>
      HtmlOps.robotsAvailabilityGate(
        HtmlOps.plantedAvailabilityCandidates(s),
        HtmlOps.plantedRobotsFetches(s),
        HtmlOps.plantedRobotsRules(s)),
      // robots availability: the fixture's per-domain mode algebra
      // replayed as arithmetic CASE arms over the shared rule CTEs
      q222Sql),
    // sitemap-lastmod refetch (q223): the publisher's change feed
    // drives the recrawl — declared entries ∩ the maintained fetch
    // log where lastmod is strictly newer than our latest fetch;
    // declared-unchanged keys are SKIPPED regardless of age, the
    // bucket-pruned artifact read per the appendFetchLog discipline
    QueryDef("q223_sitemap_refetch", family, (s, dir) => HtmlOps.sitemapRefetchWave(
      HtmlOps.plantedSitemaps(s), s, q200Scope(s, dir), "flog",
      epochRanks(s, dir)),
      // sitemap-lastmod refetch: declared entries ∩ the q196 log
      // reduction, strictly-newer filter, stalest-first cap
      q223Sql),
    // the unified refetch scheduler (q224): sitemap declaration >
    // Last-Modified heuristic > flat TTL, one politeness tail over
    // the merged due set, per-key reason emitted; the declared
    // overlay both schedules and SUPPRESSES against the q219 log
    QueryDef("q224_unified_refetch", family, (s, dir) => HtmlOps.unifiedRefetchWave(
      HtmlOps.plantedValidatorLog(s, 1767225600L),
      HtmlOps.plantedRefetchSitemaps(s, 1767225600L),
      nowS = 1767225600L + 3L * 86400L,
      defaultTtlS = 2L * 86400L, minTtlS = 86400L,
      maxTtlS = 30L * 86400L, ranks = epochRanks(s, dir)),
      // unified scheduler: the three-signal precedence CASE over the
      // q219 log replay, declared overlay regenerated arithmetically
      q224Sql),
    // feed discovery (q225): RSS/Atom entries as a frontier channel
    // through the standard admission chain, newest-published-first
    // politeness ordering — the freshness channel beside sitemaps'
    // inventory and the link graph
    QueryDef("q225_feed_seeds", family, (s, dir) => HtmlOps.feedSeeds(
      HtmlOps.plantedFeeds(s, 1767225600L), frontierScope(s, dir),
      "urlkeys", epochRanks(s, dir), HtmlOps.plantedRobotsRules(s)),
      // feed discovery: the feeds regenerated byte-identically, the
      // block-scoped entry parse replayed in RE2, the q197 admission
      // tail with newest-published-first ordering
      q225Sql),
    // WARC export (q226): the archive SINK, held to the strongest
    // check an exporter has — its own engine re-ingests both arms
    // (plain records + per-record gzip members) and every page must
    // come back verdict-green and byte-identical to the direct
    // extraction
    QueryDef("q226_warc_export", family, warcExportQuery,
      // WARC export: the DIRECT extraction per page × arm, ok = true —
      // the round trip's framing is verified by the hash alone
      q226Sql),
    // adaptive refetch (q227): the OBSERVED change signal — the
    // content store's version history per canon sets the TTL at half
    // the mean inter-change interval (integer arithmetic end to
    // end); single-version canons take the default
    QueryDef("q227_adaptive_refetch", family, (s, dir) => HtmlOps.adaptiveRefetchWave(
      HtmlOps.plantedVersionHistory(s, 1767225600L),
      nowS = 1767225600L + 3L * 86400L,
      defaultTtlS = 2L * 86400L, minTtlS = 86400L,
      maxTtlS = 30L * 86400L, ranks = epochRanks(s, dir)),
      // adaptive refetch: the version history replayed closed-form
      // (count/first/last from the fixture arithmetic), the same
      // half-interval integer TTL, the q196 tail
      q227Sql),
    // rank-proportional crawl budgets (q228): the q191 wave with the
    // flat per-domain cap replaced by clamp((B·pr) div Σpr) slots —
    // the budget-allocation knob; the chosen cap rides each row
    QueryDef("q228_budgeted_frontier", family, (s, dir) => HtmlOps.budgetedFrontier(
      HtmlOps.plantedHtmlCorpus(t(s, dir, "documents")),
      frontierScope(s, dir), "urlkeys", epochRanks(s, dir),
      HtmlOps.plantedRobotsRules(s), totalBudget = 60,
      maxPerDomain = 15,
      budgetRanks = Some(HtmlOps.plantedDomainWeights(s))),
      // rank-proportional budgets: the q191 chain with the cap filter
      // swapped for the clamp((B*pr) // tot) budget join
      q228Sql),
  )
}
