package graft

import org.apache.spark.sql.functions._

import graft.io.Artifact
import graft.ops.HtmlOps

class HtmlOpsSpec extends SparkSpec {
  import spark.implicits._

  private def pages(rows: (Long, String)*) =
    rows.toDF("doc_id", "html")

  test("htmlExtract strips blocks before tags and decodes entities in order") {
    val d = pages(
      // script holds a raw '<' — tag stripping alone would eat from
      // '<7' to the next '>', corrupting the text; block removal first
      1L -> ("<html><head><title>T1</title></head><body>" +
        "<script>if(a<7){b=1;}</script><p>keep me</p></body></html>"),
      // &amp;lt; must decode ONCE: the literal text is '&lt;', not '<'
      2L -> "<body><p>x &amp;lt; y &amp; z</p></body>",
      // &nbsp; joins the whitespace collapse; &copy; passes through
      3L -> "<body>a&nbsp;&nbsp;b &copy; c</body>",
      // regex-contract pin (documented non-parser): a trailing '<'
      // with no tag after it survives as text; a dangling '<' abutting
      // a real tag is consumed WITH that tag ('<</body>' is one
      // '<[^>]*>' span)
      4L -> "<body>tail <",
      5L -> "<body>tail<</body>")
    val out = HtmlOps.htmlExtract(d).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(out(1L) === "keep me")
    assert(out(2L) === "x &lt; y & z")
    assert(out(3L) === "a b &copy; c")
    assert(out(4L) === "tail <")
    assert(out(5L) === "tail")
  }

  test("htmlExtract title from original html, n_links counts every href") {
    val d = pages(5L ->
      ("<html><head><title>My Page</title></head><body>" +
        "<a href=\"https://a.example/x\">x</a>" +
        "<a href=\"https://b.example/y\">y</a></body></html>"))
    val r = HtmlOps.htmlExtract(d).collect().head
    assert(r.getString(1) === "My Page")
    assert(r.getLong(2) === 2L)
    // head removal drops the title from the text stream
    assert(r.getString(3) === "x y")
  }

  test("htmlExtract is null-safe") {
    val r = HtmlOps.htmlExtract(pages(9L -> null)).collect().head
    assert(r.getString(1) === "" && r.getLong(2) === 0L &&
      r.getString(3) === "")
  }

  test("htmlOutlinks emits document order and blocklist verdicts") {
    val d = pages(7L ->
      ("<body><a href=\"https://w1.s2.example/nav\">n</a>" +
        "<a href=\"https://ok.s9.example/p/7?q=1#f\">p</a></body>"))
    val rows = HtmlOps.htmlOutlinks(d).orderBy("link_idx").collect()
    assert(rows.map(_.getInt(1)).toSeq === Seq(0, 1))
    assert(rows(0).getString(4) === "s2.example" && rows(0).getBoolean(5))
    assert(rows(1).getString(3) === "ok.s9.example")
    assert(rows(1).getString(4) === "s9.example" && !rows(1).getBoolean(5))
  }

  test("structural matchers are case-insensitive; style blocks strip in body") {
    val d = pages(10L ->
      ("<HTML><HEAD><TITLE>Caps</TITLE></HEAD><BODY>" +
        "<SCRIPT>if(a<7){b=1;}</SCRIPT><style>p{x:1}</style>" +
        "<A HREF=\"HTTPS://x.s2.example/y\">y</A>ok</BODY></HTML>"))
    val r = HtmlOps.htmlExtract(d).collect().head
    assert(r.getString(1) === "Caps")
    assert(r.getLong(2) === 1L)
    assert(r.getString(3) === "y ok")
    val link = HtmlOps.htmlOutlinks(d).collect().head
    assert(link.getString(4) === "s2.example" && link.getBoolean(5))
  }

  test("head removal does not prefix-match HTML5 <header>") {
    val d = pages(6L ->
      ("<body><header>site nav</header><p>real text</p>" +
        "<code>literal </head> here</code></body>"))
    // a bare '<head[^>]*>' would match from '<header>' through the
    // stray '</head>', deleting 'real text'
    assert(HtmlOps.htmlExtract(d).collect().head.getString(3) ===
      "site nav real text literal here")
  }

  test("htmlOutlinks: uppercase scheme still gets a verdict, relative hrefs inherit baseHost") {
    val d = Seq((8L, "s2.example",
      "<body><a href=\"HTTPS://x.s2.example/a\">a</a>" +
        "<a href=\"/same/site\">b</a></body>"))
      .toDF("doc_id", "page_host", "html")
    val noBase = HtmlOps.htmlOutlinks(d.drop("page_host"))
      .orderBy("link_idx").collect()
    assert(noBase(0).getString(3) === "x.s2.example" &&
      noBase(0).getBoolean(5))
    // without a base host the relative link has no domain — blocked
    // defaults to false (documented wrong-side default)
    assert(noBase(1).getString(3) === "" && !noBase(1).getBoolean(5))
    val withBase = HtmlOps.htmlOutlinks(d, baseHostCol = Some("page_host"))
      .orderBy("link_idx").collect()
    assert(withBase(1).getString(3) === "s2.example" &&
      withBase(1).getBoolean(5))
  }

  test("canonicalUrl keeps unparseable URLs as their own keys") {
    val d = Seq(
      (1L, "ftp://a.example/x"),
      (2L, "mailto:b@c.example"),
      (3L, "/relative/path"),
      // degenerate authorities strip to empty — keep the URL itself
      (4L, "https://www./x"),
      (5L, "https://:8080/x")).toDF("doc_id", "url")
    val out = HtmlOps.urlCanonicalDedup(d).collect()
      .map(r => r.getLong(0) -> ((r.getString(2), r.getLong(3),
        r.getBoolean(4)))).toMap
    assert(out(1L) === (("ftp://a.example/x", 1L, true)))
    assert(out(2L) === (("mailto:b@c.example", 1L, true)))
    assert(out(3L) === (("/relative/path", 1L, true)))
    assert(out(4L) === (("https://www./x", 1L, true)))
    assert(out(5L) === (("https://:8080/x", 1L, true)))
  }

  test("canonicalUrl collapses protocol-relative URLs with their absolute twins") {
    val d = Seq(
      (1L, "//ex.com/p/1"),
      (2L, "https://WWW.ex.com:443/p/1/"),
      (3L, "//other.example/q")).toDF("doc_id", "url")
    val out = HtmlOps.urlCanonicalDedup(d).collect()
      .map(r => r.getLong(0) -> ((r.getString(2), r.getLong(3),
        r.getBoolean(4)))).toMap
    assert(out(1L) === (("ex.com/p/1", 2L, true)))
    assert(out(2L) === (("ex.com/p/1", 2L, false)))
    assert(out(3L) === (("other.example/q", 1L, true)))
  }

  test("protocol-relative and scheme'd hrefs never inherit the base host") {
    val d = Seq((14L, "good.example",
      "<body><a href=\"//evil.s2.example/x\">a</a>" +
        "<a href=\"mailto:x@s2.example\">m</a>" +
        "<a href=\"ftp://f.s2.example/z\">f</a>" +
        "<a href=\"/same/site\">r</a></body>"))
      .toDF("doc_id", "page_host", "html")
    val rows = HtmlOps.htmlOutlinks(d, baseHostCol = Some("page_host"))
      .orderBy("link_idx").collect()
    // //evil.s2.example parses its OWN host and is blocked — under
    // base-host inheritance it would masquerade as good.example
    assert(rows(0).getString(3) === "evil.s2.example" &&
      rows(0).getBoolean(5))
    // mailto:/ftp: carry a scheme: no host, no inheritance, no verdict
    assert(rows(1).getString(3) === "" && !rows(1).getBoolean(5))
    assert(rows(2).getString(3) === "" && !rows(2).getBoolean(5))
    // the truly relative href still inherits
    assert(rows(3).getString(3) === "good.example")
    // crawlIngest agrees: one blocked link (the protocol-relative one)
    val flag = HtmlOps.crawlIngest(d, baseHostCol = Some("page_host"))
      .collect().head
    assert(flag.getLong(3) === 1L && !flag.getBoolean(4))
  }

  test("canonicalUrl normalizes case, www, port, slash, query, fragment") {
    val d = Seq(
      "HTTPS://WWW.Ex.COM:443/A/b/?utm_source=x#frag",
      "http://ex.com/A/b",
      "https://ex.com",
      "https://ex.com/?x=1").toDF("url")
      .select(HtmlOps.canonicalUrl(col("url")).as("c"))
    assert(d.collect().map(_.getString(0)).toSeq ===
      Seq("ex.com/A/b", "ex.com/A/b", "ex.com", "ex.com"))
  }

  test("urlCanonicalDedup keeps the lowest doc_id per canonical key") {
    val d = Seq(
      (10L, "https://www.ex.com/p/1/"),
      (3L, "HTTP://EX.COM/p/1#z"),
      (5L, "https://ex.com/p/2")).toDF("doc_id", "url")
    val out = HtmlOps.urlCanonicalDedup(d).collect()
      .map(r => r.getLong(0) -> ((r.getString(2), r.getLong(3),
        r.getBoolean(4)))).toMap
    assert(out(3L) === (("ex.com/p/1", 2L, true)))
    assert(out(10L) === (("ex.com/p/1", 2L, false)))
    assert(out(5L) === (("ex.com/p/2", 1L, true)))
  }

  test("url-key artifact: O(batch) append never rewrites untouched buckets") {
    val base = java.nio.file.Files.createTempDirectory("graft-urlkey-spec-")
    try {
      val sc = graft.core.Scopes.create(spark, base.toString)
      val docs = graft.io.Tables.parquet(spark, sf, "documents")
      val urls = HtmlOps.plantedDirtyUrlCorpus(docs)
      HtmlOps.saveUrlKeys(urls.filter(col("doc_id") < 250), sc, "uk")
      def listing(): Map[String, (Long, Long)] = {
        val rows = new java.io.File(Artifact.read(spark, sc, "uk").table("rows"))
        rows.listFiles().filter(_.getName.startsWith("bucket=")).flatMap {
          d => d.listFiles().filter(_.getName.endsWith(".parquet"))
            .map(f => f.getPath -> ((f.length(), f.lastModified())))
        }.toMap
      }
      val before = listing()
      val admitted = HtmlOps.appendUrlKeys(
        urls.filter(col("doc_id") >= 250), sc, "uk").collect()
      assert(admitted.nonEmpty)
      val touched = admitted.map(_.getAs[Int]("bucket")).toSet
      val after = listing()
      // every pre-existing file survives byte-identical (append never
      // reads or rewrites stored rows), and new files land ONLY in
      // the buckets the batch's keys hash to
      before.foreach { case (path, sig) => assert(after(path) === sig,
        s"stored file rewritten: $path") }
      val newFiles = (after.keySet -- before.keySet).toSeq
      assert(newFiles.nonEmpty)
      newFiles.foreach { p =>
        val b = p.split("bucket=")(1).split("/")(0).toInt
        assert(touched.contains(b), s"append wrote untouched bucket $b: $p")
      }
      // replaying the same batch admits nothing (the anti-join makes
      // crash-replay idempotent on the key set)
      assert(HtmlOps.appendUrlKeys(
        urls.filter(col("doc_id") >= 250), sc, "uk").count() === 0)
      // a key first fetched in history is never re-admitted, and the
      // probed verdict equals the batch recompute over the full corpus
      val viaArtifact = HtmlOps.urlKeyVerdicts(urls, sc, "uk")
        .select("doc_id", "canon", "is_canonical")
      val batch = HtmlOps.urlCanonicalDedup(urls)
        .select("doc_id", "canon", "is_canonical")
      assert(viaArtifact.exceptAll(batch).count() === 0)
      assert(batch.exceptAll(viaArtifact).count() === 0)
      // a RE-SAVE is a new version, not a merge: the old rows must
      // not survive it under the new version's registration
      HtmlOps.saveUrlKeys(urls.filter(col("doc_id") < 10), sc, "uk")
      assert(HtmlOps.loadUrlKeys(spark, sc, "uk").count() ===
        HtmlOps.urlCanonicalDedup(urls.filter(col("doc_id") < 10))
          .filter(col("is_canonical")).count())
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("applyRevisits (q218): confirmed digest resets clock with surviving validators; lies and strangers are verdicts") {
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val base = java.nio.file.Files.createTempDirectory("graft-revisit-")
    try {
      val scope = graft.core.Scopes.create(spark, base.toString)
      val t0 = 1767225600L
      val t2 = t0 + 14L * 86400L
      val framed1 = HtmlOps.httpFrame(HtmlOps.warcFrame(
          HtmlOps.plantedWarcCorpus(docs), "warc"))
        .filter(col("length_ok") && col("http_ok") && col("body_ok"))
        .select(col("target_uri"), col("etag"), col("last_modified"),
          col("body"))
        .localCheckpoint(eager = true)
      HtmlOps.saveFetchLog(
        framed1.select(col("target_uri").as("url"),
          lit(t0).as("fetched_at_s"), col("etag"), col("last_modified")),
        scope, "flog")
      HtmlOps.appendContentVersions(
        framed1.select(HtmlOps.canonicalUrl(col("target_uri")).as("canon"),
          col("body"), lit(t0).as("content_fetch_s")),
        scope.path("content"))
      val pre = HtmlOps.loadFetchLog(spark, scope, "flog").collect()
        .map(r => r.getAs[String]("canon") ->
          ((r.getAs[String]("etag"), r.getAs[String]("last_modified"))))
        .toMap
      val preContent = HtmlOps.latestContent(spark, scope.path("content"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      // a revisit for a NEVER-STORED canon rides along: unresolvable,
      // a verdict, and it must not land in the log
      import spark.implicits._
      val stranger = Seq((9999L,
        "WARC/1.0\r\nWARC-Type: revisit\r\n" +
          "WARC-Target-URI: https://w9.s9.example/p/99\r\n" +
          "WARC-Date: 2026-01-15T00:00:00Z\r\n" +
          "WARC-Payload-Digest: md5:00000000000000000000000000000000\r\n" +
          "Content-Length: 0\r\n\r\n\r\n")).toDF("doc_id", "warc")
      val verdicts = HtmlOps.applyRevisits(
        HtmlOps.warcRevisits(
          HtmlOps.plantedRevisitCorpus(docs).unionByName(stranger), "warc"),
        scope, "flog", scope.path("content"), lit(t2)).collect()
      def cNum(canon: String) =
        canon.replaceAll(".*/p/", "").toInt
      // verdicts: correct-digest legs confirm, lying legs fail, the
      // stranger fails (nothing stored to check against)
      verdicts.foreach { r =>
        val canon = r.getAs[String]("canon")
        val expect = pre.contains(canon) && cNum(canon) % 3 == 0
        assert(r.getAs[Boolean]("revisit_ok") === expect, r.toString)
      }
      assert(verdicts.exists(_.getAs[Boolean]("revisit_ok")))
      assert(verdicts.exists(r => !r.getAs[Boolean]("revisit_ok")))
      // the log: clock reset EXACTLY on confirmed canons; validators
      // byte-identical everywhere (a revisit ships none)
      val post = HtmlOps.loadFetchLog(spark, scope, "flog").collect()
      post.foreach { r =>
        val canon = r.getAs[String]("canon")
        val expectT = if (cNum(canon) % 3 == 0) t2 else t0
        assert(r.getAs[Long]("last_fetch_s") === expectT, r.toString)
        assert((r.getAs[String]("etag"), r.getAs[String]("last_modified"))
          === pre(canon), r.toString)
      }
      assert(!post.exists(_.getAs[String]("canon").endsWith("/p/99")))
      // the content store: bit-identical — zero writes on any path
      val postContent = HtmlOps.latestContent(spark, scope.path("content"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(postContent === preContent)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("heuristicRefetchWave (q219): 10% TTL clamps, date parse strips weekday, garbage takes the default") {
    import spark.implicits._
    val t0 = 1767225600L
    val day = 86400L
    // the date parse: weekday stripped (even a LYING weekday parses),
    // garbage and '' are null
    val parsed = Seq(
      "Thu, 01 Jan 2026 00:00:00 GMT", // true weekday
      "Mon, 01 Jan 2026 00:00:00 GMT", // lying weekday — must still parse
      "not a date", "").toDF("s")
      .select(graft.ops.HtmlOps.httpDateEpoch(col("s"))).collect()
    assert(parsed(0).getLong(0) === t0)
    assert(parsed(1).getLong(0) === t0)
    assert(parsed(2).isNullAt(0) && parsed(3).isNullAt(0))
    val ranks = Seq(("s0.example", 7L)).toDF("domain", "pr")
    // the 200 planted keys spread over five domains, 40 each: four
    // key slices of 10 per domain fit the 10-slot politeness cap, so
    // the union of their waves is the whole due set
    val log = graft.ops.HtmlOps.plantedValidatorLog(spark, t0)
    val key = regexp_extract(col("url"), "/p/([0-9]+)$", 1).cast("int")
    val wave = (0 until 4).map { j =>
      graft.ops.HtmlOps.heuristicRefetchWave(log.filter(key % 4 === j),
        nowS = t0 + 3L * day, defaultTtlS = 7L * day,
        minTtlS = day, maxTtlS = 30L * day, ranks)
    }.reduce(_ unionByName _).collect()
    assert(wave.nonEmpty)
    def k(r: org.apache.spark.sql.Row) =
      r.getAs[String]("canon").replaceAll(".*/p/", "").toLong
    // due ⟺ ttl <= 3d ⟺ a PARSED Last-Modified at most 30 days old
    // (10% heuristic; the <10d legs clamp up to the 1d floor and stay
    // due); the absent/garbage legs carry the 7d default — never due
    val dueKeys = wave.map(k).toSet
    (0L until 200L).foreach { key =>
      val expect = key % 7 != 0 && key % 7 != 1 && key % 90 <= 30
      assert(dueKeys.contains(key) === expect, s"key $key")
    }
    // the TTL column is the clamp: k%90=0 → floor 1d; k%90=25 → 2.5d
    val byKey = wave.map(r => k(r) -> r.getAs[Long]("ttl_s")).toMap
    byKey.get(90L).foreach(t => assert(t === day))   // 90%90=0 → floor
    byKey.get(25L).foreach(t => assert(t === (25L * day) / 10))
    // ranks land where planted
    wave.filter(_.getAs[String]("domain") == "s0.example")
      .foreach(r => assert(r.getAs[Long]("pr") === 7L))
  }

  test("fetch-log artifact (q200): O(batch) upsert keeps the latest fetch; untouched buckets intact") {
    val base = java.nio.file.Files.createTempDirectory("graft-fetchlog-spec-")
    try {
      val sc = graft.core.Scopes.create(spark, base.toString)
      val docs = graft.io.Tables.parquet(spark, sf, "documents")
      val log = HtmlOps.plantedFetchLog(docs)
      val first = log.filter(col("log_id") < 1000L)
        .select("url", "fetched_at_s")
      val refetch = log.filter(col("log_id") >= 1000L)
        .select("url", "fetched_at_s")
      HtmlOps.saveFetchLog(first, sc, "fl")
      // two-level layout now: bucket=<b>/fetch_day=<d>/*.parquet
      def listing(): Map[String, (Long, Long)] = {
        val rows = new java.io.File(Artifact.read(spark, sc, "fl").table("rows"))
        rows.listFiles().filter(_.getName.startsWith("bucket=")).flatMap {
          b => b.listFiles().filter(_.getName.startsWith("fetch_day="))
            .flatMap(d => d.listFiles().filter(_.getName.endsWith(".parquet"))
              .map(f => f.getPath -> ((f.length(), f.lastModified()))))
        }.toMap
      }
      val before = listing()
      val upserted = HtmlOps.appendFetchLog(refetch, sc, "fl").collect()
      assert(upserted.nonEmpty)
      // the upsert rewrites ONLY the (bucket, fetch_day) partitions
      // the batch changed: where a winning row lands (`written`) and
      // where a beaten row moved out of (`movedFrom` — rewritten if
      // other keys survive there, DROPPED if emptied). Every other
      // partition, INCLUDING other days of touched buckets, keeps its
      // files byte-identical
      val written = upserted
        .map(r => (r.getAs[Int]("bucket"), r.getAs[Int]("fetch_day"))).toSet
      val movedFrom = first
        .groupBy(HtmlOps.canonicalUrl(col("url")).as("canon"))
        .agg(max(struct(col("fetched_at_s"), col("url"))).as("m"))
        .join(refetch.select(HtmlOps.canonicalUrl(col("url")).as("canon"))
          .distinct(), Seq("canon"))
        .select(
          pmod(xxhash64(col("canon")), lit(64L)).cast("int").as("b"),
          floor(col("m.fetched_at_s") / 86400L).cast("int").as("d"))
        .distinct().collect().map(r => (r.getInt(0), r.getInt(1))).toSet
      val after = listing()
      before.foreach { case (path, sig) =>
        val b = path.split("bucket=")(1).split("/")(0).toInt
        val d = path.split("fetch_day=")(1).split("/")(0).toInt
        if (written.contains((b, d))) () // changed: rewritten, fine
        else if (movedFrom.contains((b, d)))
          // emptied entirely (no surviving key) — must be GONE, or
          // the beaten rows would still be readable
          assert(after.get(path).isEmpty,
            s"emptied partition still has files: $path")
        else
          assert(after.get(path).contains(sig),
            s"unchanged partition rewritten: $path")
      }
      // and some partition of a touched bucket stayed intact — the
      // assertion above is not vacuous (refetches move keys to a NEW
      // day; their buckets' other days must survive untouched)
      assert(before.keys.exists { path =>
        val b = path.split("bucket=")(1).split("/")(0).toInt
        val d = path.split("fetch_day=")(1).split("/")(0).toInt
        !written.contains((b, d)) && !movedFrom.contains((b, d)) &&
          written.exists(_._1 == b)
      }, "no touched bucket kept an unchanged day partition")
      // the maintained artifact equals the one-shot reduction over
      // the FULL raw log: the refetched keys carry the LATER time
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select("canon", "url", "last_fetch_s")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSet
      val viaArtifact = rows(HtmlOps.loadFetchLog(spark, sc, "fl"))
      HtmlOps.saveFetchLog(log.select("url", "fetched_at_s"), sc, "oneshot")
      val oneShot = rows(HtmlOps.loadFetchLog(spark, sc, "oneshot"))
      assert(viaArtifact === oneShot)
      // replaying the same batch is a no-op by ALGEBRA (max-merge):
      // same rows after, nothing double-applied
      HtmlOps.appendFetchLog(refetch, sc, "fl")
      assert(rows(HtmlOps.loadFetchLog(spark, sc, "fl")) === viaArtifact)
      // and batch ORDER does not matter: refetch wave first, seed
      // second converges to the identical artifact
      val sc2 = graft.core.Scopes.create(spark, base.toString)
      HtmlOps.saveFetchLog(refetch, sc2, "fl")
      HtmlOps.appendFetchLog(first, sc2, "fl")
      assert(rows(HtmlOps.loadFetchLog(spark, sc2, "fl")) === viaArtifact)
      // the due set from the artifact equals q196 over the raw log
      val now = 1767225600L + 9L * 86400L
      val ranks = graft.ops.GraphOps.domainRank(HtmlOps.domainEdges(
        HtmlOps.plantedHtmlCorpus(docs)))
      val fromLog = HtmlOps.refetchWaveFromLog(spark, sc, "fl",
        now, 7L * 86400L, ranks)
      val fromRaw = HtmlOps.refetchWave(log, now, 7L * 86400L, ranks)
      assert(fromLog.exceptAll(fromRaw).count() === 0)
      assert(fromRaw.exceptAll(fromLog).count() === 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  private def emptyRanks: org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    Seq.empty[(String, Long)].toDF("domain", "pr")
  }

  test("crawlIngest verdict agrees with htmlOutlinks, join-free") {
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val pages = HtmlOps.plantedHtmlCorpus(docs)
    val flag = HtmlOps.crawlIngest(pages, baseHostCol = Some("fetch_host"))
    // the zero-exchange literal-IN form must equal the broadcast-join
    // form aggregated per page
    val viaJoin = HtmlOps.htmlOutlinks(pages, baseHostCol = Some("fetch_host"))
      .groupBy("doc_id")
      .agg(sum(when(col("blocked"), 1L).otherwise(0L)).as("nb"))
    val joined = flag.join(viaJoin, Seq("doc_id"))
    assert(joined.filter(col("n_blocked_links") =!= col("nb")).count() === 0)
    assert(flag.filter(!col("page_ok")).count() ===
      flag.filter(col("n_blocked_links") > 0).count())
    // both verdicts occur on the fixture
    assert(flag.filter(col("page_ok")).count() > 0)
    assert(flag.filter(!col("page_ok")).count() > 0)
    // and the extraction columns match q172's
    val ext = HtmlOps.htmlExtract(pages).select("doc_id", "text_clean")
    assert(flag.select("doc_id", "text_clean").exceptAll(ext).count() === 0)
  }

  test("n_links agrees between htmlExtract and crawlIngest on malformed pages") {
    // a truncated fetch: the unterminated href is not a link in EITHER
    val d = pages(12L ->
      ("<body><a href=\"https://a.example/x\">x</a>" +
        "<a href=\"https://b.example/p"))
    assert(HtmlOps.htmlExtract(d).collect().head.getLong(2) === 1L)
    assert(HtmlOps.crawlIngest(d).collect().head.getLong(2) === 1L)
  }

  test("crawlIngest relative hrefs inherit baseHost for the verdict") {
    val d = Seq((13L, "s2.example",
      "<body><a href=\"/same/site\">b</a></body>"))
      .toDF("doc_id", "page_host", "html")
    // without the base host: unattributable link, page sails through
    assert(HtmlOps.crawlIngest(d.drop("page_host"))
      .collect().head.getBoolean(4))
    // with it: the same-site link is on the blocked domain
    val r = HtmlOps.crawlIngest(d, baseHostCol = Some("page_host"))
      .collect().head
    assert(r.getLong(3) === 1L && !r.getBoolean(4))
  }

  test("planted corpora collide as designed on the fixture") {
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val dedup = HtmlOps.urlCanonicalDedup(
      HtmlOps.plantedDirtyUrlCorpus(docs))
    // the documents fixture has 500 docs at EVERY sf dir (FIXTURES.md)
    // over 385 canonical keys, so surface-divergent pairs must share
    // keys (the key is injective on <=385 CONSECUTIVE ids — 500 is
    // load-bearing, not a nicety)
    assert(docs.count() === 500)
    assert(dedup.filter(col("n_dups") > 1).count() > 0)
    val links = HtmlOps.htmlOutlinks(HtmlOps.plantedHtmlCorpus(docs),
      baseHostCol = Some("fetch_host"))
    // exactly five links per planted page: nav (domain s<id%5>,
    // uppercased on id%3==0), next (s<id%13>, ported on even ids),
    // the PROTOCOL-RELATIVE //x<i>.s<id%11> cross-site link, the
    // mailto: link, and the RELATIVE /about link inheriting fetch_host
    assert(links.count() === 5 * docs.count())
    assert(links.filter(col("blocked")).count() > 0)
    // the normalize legs all carry real verdicts on the fixture:
    // uppercased host, ported host, and base-host-inherited relative
    assert(links.filter(col("host").rlike("^W[0-9]") &&
      col("blocked")).count() > 0)
    assert(links.filter(col("host").contains(":8443") &&
      col("blocked")).count() > 0)
    assert(links.filter(col("url").startsWith("/about/") &&
      col("blocked")).count() > 0)
    // every relative link attributed to its page's own host
    assert(links.filter(col("url").startsWith("/about/") &&
      col("domain") === "").count() === 0)
    // protocol-relative links parse their OWN host — never the page's
    // (the blocklist-evasion hole this closes), and some are blocked
    val pr = links.filter(col("url").startsWith("//"))
    assert(pr.count() === docs.count())
    assert(pr.filter(!col("host").startsWith("x")).count() === 0)
    assert(pr.filter(col("blocked")).count() > 0)
    // mailto: names a blocked domain but is not a fetchable link —
    // no host, no inheritance, no verdict
    val mail = links.filter(col("url").startsWith("mailto:"))
    assert(mail.count() === docs.count())
    assert(mail.filter(col("host") =!= "" || col("blocked")).count() === 0)
  }

  test("urlParamDedup (q189): the conservative key refines the aggressive one") {
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val out = HtmlOps.urlParamDedup(
      HtmlOps.plantedParamUrlCorpus(docs)).collect()
    assert(out.length === 500)
    val byId = out.map(r => r.getAs[Long]("doc_id") -> r).toMap
    // REFINEMENT, row by row: a conservative group is never larger
    // than the aggressive group it sits inside
    out.foreach { r =>
      assert(r.getAs[Long]("n_dups_p") <= r.getAs[Long]("n_dups"),
        s"conservative group exceeds aggressive at ${r.getAs[Long]("doc_id")}")
    }
    // ... and it strictly bites: the (d, d+385) pairs share host+path
    // (same aggressive key) while exactly one member carries params
    val d0 = byId(0L); val d385 = byId(385L)
    assert(d0.getAs[String]("canon") === d385.getAs[String]("canon"))
    assert(d0.getAs[String]("canon_p") !== d385.getAs[String]("canon_p"))
    assert(d0.getAs[Long]("n_dups") > d0.getAs[Long]("n_dups_p"))
    // NORMALIZATION: doc 0 plants ?page=0&utm_campaign=y&id=0 — the
    // key keeps the allowlisted params SORTED and drops the tracker
    assert(d0.getAs[String]("canon_p") === "w0.s0.example/p/0?id=0&page=0")
    // the %4==2 leg keeps only its id param
    assert(byId(2L).getAs[String]("canon_p") === "w2.s2.example/p/2?id=2")
    // an unparseable URL keeps ITSELF under both keys (allowlisted
    // param name in its query string notwithstanding)
    val mail = byId(9L)
    assert(mail.getAs[String]("url").startsWith("mailto:"))
    assert(mail.getAs[String]("canon_p") === mail.getAs[String]("url"))
    assert(mail.getAs[String]("canon") === mail.getAs[String]("url"))
    // keep-first: exactly one canonical row per conservative group
    out.groupBy(_.getAs[String]("canon_p")).foreach { case (k, g) =>
      assert(g.count(_.getAs[Boolean]("is_canonical")) === 1, k)
      assert(g.filter(_.getAs[Boolean]("is_canonical"))
        .map(_.getAs[Long]("doc_id")).head === g.map(_.getAs[Long]("doc_id")).min)
    }
  }

  test("robotsGate (q190): longest match decides, allow wins ties, no rules means allowed") {
    import spark.implicits._
    val rules = Seq(
      ("d.example", false, "/p/"), ("d.example", true, "/p/1"),
      ("t.example", false, "/x"), ("t.example", true, "/x"),
      ("b.example", false, "/")).toDF("domain", "allow", "prefix")
    val links = Seq(
      (1L, "https://a.d.example/p/2"),   // /p/ disallow, no longer match
      (2L, "https://a.d.example/p/10"),  // /p/1 allow OUTRANKS /p/
      (3L, "https://a.d.example/q"),     // no matching rule -> allowed
      (4L, "https://a.t.example/x/y"),   // exact length tie -> allow wins
      (5L, "https://a.b.example/"),      // blanket '/' disallow
      (6L, "https://a.b.example"),       // EMPTY path: '/' does not match
      (7L, "https://a.z.example/p/2"),   // domain with no rules at all
      (8L, "/p/2"))                      // relative: path is the url
      .toDF("doc_id", "url")
      .withColumn("domain", when(col("url").startsWith("/"),
        lit("d.example")).otherwise(
        graft.ops.PiiOps.registrableDomain(
          graft.ops.HtmlOps.hostOf(col("url")))))
    val out = graft.ops.HtmlOps.robotsGate(links, rules)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("allowed"), r.getAs[Int]("rule_len")))).toMap
    assert(out(1L) === ((false, 3)))
    assert(out(2L) === ((true, 4)))
    assert(out(3L) === ((true, -1)))
    assert(out(4L) === ((true, 2)))
    assert(out(5L) === ((false, 1)))
    assert(out(6L) === ((true, -1)))
    assert(out(7L) === ((true, -1)))
    assert(out(8L) === ((false, 3)))
    // RFC 9309 prefix matching is OCTET-based: a non-ASCII rule prefix
    // ranks (and reports rule_len) by its UTF-8 byte count, matching
    // the oracle's strlen — '/café' is 5 characters but SIX octets
    val utf8Rules = Seq(("u.example", false, "/café"))
      .toDF("domain", "allow", "prefix")
    val utf8Link = Seq((10L, "https://a.u.example/café/x", "u.example"))
      .toDF("doc_id", "url", "domain")
    val utf8 = graft.ops.HtmlOps.robotsGate(utf8Link, utf8Rules).head()
    assert(!utf8.getAs[Boolean]("allowed"))
    assert(utf8.getAs[Int]("rule_len") === 6)
    // a PATH-RELATIVE href carries no path of its own, so raw it
    // matches nothing — gating the RESOLVED form (the politeFrontier
    // contract) puts it under b.example's blanket '/' disallow
    val rel = Seq((9L, "private/x", "a.b.example", "b.example"))
      .toDF("doc_id", "url", "host", "domain")
    val raw = graft.ops.HtmlOps.robotsGate(rel, rules).head()
    assert(raw.getAs[Boolean]("allowed") && raw.getAs[Int]("rule_len") == -1)
    val res = graft.ops.HtmlOps.robotsGate(
      rel.withColumn("url",
        graft.ops.HtmlOps.resolvedUrl(col("url"), col("host"))),
      rules).head()
    assert(!res.getAs[Boolean]("allowed") && res.getAs[Int]("rule_len") == 1)
    // over the planted corpus: every even-domain /p/ link is blocked
    // unless reopened by /p/1; %4==1 domains only keep lowercase /nav
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val gated = graft.ops.HtmlOps.robotsGate(
      graft.ops.HtmlOps.htmlOutlinks(
          graft.ops.HtmlOps.plantedHtmlCorpus(docs),
          baseHostCol = Some("fetch_host"))
        .filter(col("host") =!= ""),
      graft.ops.HtmlOps.plantedRobotsRules(spark)).cache()
    try {
      val rows = gated.collect()
      assert(rows.nonEmpty)
      def k(r: org.apache.spark.sql.Row) =
        r.getAs[String]("domain").stripPrefix("s")
          .stripSuffix(".example").toInt
      // every planted /p/ link carries '?utm_source=feed', so the
      // %5==2 wildcard disallow (7 octets) out-ranks the /p/ prefix
      // rules — except s7, whose 10-octet '/p/*feed$' allow re-opens
      rows.filter(r => r.getAs[String]("path").startsWith("/p/")).foreach { r =>
        val expect = if (k(r) == 7) true // allow wildcard outranks
          else if (k(r) % 5 == 2) false  // '/*?utm_' sees the query
          else if (k(r) % 4 == 2) true   // tie leg: allow wins
          else if (k(r) % 2 == 0) r.getAs[String]("path").startsWith("/p/1")
          else k(r) % 4 != 1 // odd: only the '/' blanket can block
        assert(r.getAs[Boolean]("allowed") === expect, r.toString)
      }
      // the anchored mid-star rule: '/r/*7$' on %3==0 domains gates
      // exactly the /r/ links whose path ends in '7'
      rows.filter(r => k(r) % 3 == 0 &&
          r.getAs[String]("path").startsWith("/r/")).foreach { r =>
        if (r.getAs[String]("path").endsWith("7")) {
          assert(!r.getAs[Boolean]("allowed"), r.toString)
          assert(r.getAs[Int]("rule_len") === 6, r.toString)
        } else {
          // s9 is also a %4==1 domain: its blanket '/' still gates
          assert(r.getAs[Boolean]("allowed") === (k(r) != 9), r.toString)
        }
      }
      // the uppercase-nav leg: robots paths are case-sensitive, so
      // '/NAV' on a %4==1 domain falls back to the '/' disallow
      val navs = rows.filter(r => k(r) % 4 == 1 &&
        r.getAs[String]("path").equalsIgnoreCase("/nav"))
      assert(navs.exists(_.getAs[String]("path") == "/nav"))
      assert(navs.exists(_.getAs[String]("path") == "/NAV"))
      navs.foreach { r =>
        assert(r.getAs[Boolean]("allowed") ===
          (r.getAs[String]("path") == "/nav"), r.toString)
      }
      // a rule-less domain never blocks — with the wildcard legs,
      // only s11 is still rule-less (s3 carries '/r/*7$', s7 the
      // utm/feed wildcards)
      rows.filter(r => k(r) == 11).foreach(r =>
        assert(r.getAs[Boolean]("allowed") && r.getAs[Int]("rule_len") == -1))
    } finally { gated.unpersist(); () }
  }

  test("robotsGate: RFC 9309 wildcards — '*' spans octets, trailing '$' anchors, query in target") {
    import spark.implicits._
    val rules = Seq(
      ("w.example", false, "/*?sess"),   // the query-matching idiom
      ("w.example", true, "/p/*.html$"), // allow, mid-star + anchor
      ("w.example", false, "/p/"),
      ("w.example", false, "/dl/*.exe$"),
      ("x.example", false, "*private*")  // leading star
    ).toDF("domain", "allow", "prefix")
    val links = Seq(
      // 9-octet anchored allow out-ranks the 4-octet /p/ disallow
      (1L, "https://w.example/p/a.html", "w.example"),
      // the query is IN the match target: '$' no longer at the end,
      // so the allow fails and /p/ gates it
      (2L, "https://w.example/p/a.html?x=1", "w.example"),
      (3L, "https://w.example/q?sessid=9", "w.example"),
      (4L, "https://w.example/dl/tool.exe", "w.example"),
      // anchor mismatch: one octet past '.exe'
      (5L, "https://w.example/dl/tool.exem", "w.example"),
      (6L, "https://x.example/a/private/b", "x.example"),
      // no match target at all: the leading-star rule must NOT
      // match the empty string
      (7L, "mailto:a@x.example", "x.example")
    ).toDF("doc_id", "url", "domain")
    val out = HtmlOps.robotsGate(links, rules)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("allowed"), r.getAs[Int]("rule_len")))).toMap
    assert(out(1L) === ((true, 10)))
    assert(out(2L) === ((false, 3)))
    assert(out(3L) === ((false, 7)))
    assert(out(4L) === ((false, 10)))
    assert(out(5L) === ((true, -1)))
    assert(out(6L) === ((false, 9)))
    assert(out(7L) === ((true, -1)))
  }

  test("anchorTerms (q194): per-target term counts; unattributable anchors drop") {
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val out = HtmlOps.anchorTerms(HtmlOps.plantedHtmlCorpus(docs))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    // every doc plants exactly one of each visible anchor — the term
    // mass must conserve across targets
    def termTotal(t: String) =
      out.collect { case ((_, `t`), n) => n }.sum
    assert(termTotal("home") === 500L)
    assert(termTotal("next") === 500L)
    assert(termTotal("ref") === 500L)
    assert(termTotal("about") === 500L)
    // the mailto anchor is unattributable (scheme'd non-http, no
    // host) — its text never lands anywhere
    assert(termTotal("mail") === 0L)
    // targets canonicalize like the frontier: the nav link of doc 0
    // (fetch host w0.s0) keeps its path case; hosts fold
    assert(out.contains(("w0.s0.example/NAV", "home")))
    assert(out.contains(("w1.s1.example/nav", "home")))
    // the relative about-link resolves against ITS OWN fetch host —
    // per-domain targets, not one raw-path key (the q187 fix, visible
    // here too): every about canon carries a host
    out.keys.filter(_._2 == "about").foreach { case (canon, _) =>
      assert(canon.matches("w[0-9]+\\.s[0-9]+\\.example/about/[0-9]+"), canon)
    }
    // the next-anchor carries the doc id as its own term, attributed
    // to that doc's target page
    assert(out(("w0.s0.example/p/0", "0")) === 1L)
    assert(out(("w0.s0.example/p/0", "next")) === 1L)
  }

  test("crawlFunnel (q195): stages shrink monotonically and reconcile with the polite wave") {
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val base = java.nio.file.Files.createTempDirectory("graft-funnel-")
    try {
      val scope = graft.core.Scopes.create(spark, base.toString)
      HtmlOps.saveUrlKeys(HtmlOps.plantedDirtyUrlCorpus(docs), scope, "keys")
      val pages = HtmlOps.plantedHtmlCorpus(docs)
      val rules = HtmlOps.plantedRobotsRules(spark)
      val funnel = HtmlOps.crawlFunnel(pages, scope, "keys", rules)
        .collect().map(r => r.getString(0) -> r).toMap
      assert(funnel.nonEmpty)
      funnel.values.foreach { r =>
        val Seq(links, unb, alw, keys, unseen, sched) =
          (1 to 6).map(r.getLong(_))
        assert(links >= unb && unb >= alw && keys >= unseen
          && unseen >= sched, r.toString)
        assert(keys <= alw, r.toString) // keys collapse occurrences
        assert(sched <= 10L, r.toString)
      }
      // blocklisted domains drop everything at the blocklist stage
      Seq("s2.example", "s5.example", "s11.example").foreach { d =>
        assert(funnel(d).getLong(1) > 0L, d)
        assert(funnel(d).getLong(2) === 0L, d)
      }
      // the robots stage bites on an unblocked domain: the %4==1
      // blanket-disallow domain keeps only its lowercase /nav links
      assert(funnel("s1.example").getLong(3)
        < funnel("s1.example").getLong(2))
      // RECONCILIATION: n_scheduled per domain IS the polite wave
      val wave = HtmlOps.politeFrontier(pages, scope, "keys",
          graft.ops.GraphOps.domainRank(HtmlOps.domainEdges(pages)), rules)
        .groupBy("domain").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val scheduled = funnel.view.mapValues(_.getLong(6))
        .filter(_._2 > 0L).toMap
      assert(scheduled === wave)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("refetchWave (q196): the LATEST fetch decides staleness; oldest-first under the cap") {
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val pages = HtmlOps.plantedHtmlCorpus(docs)
    val ranks = graft.ops.GraphOps.domainRank(HtmlOps.domainEdges(pages))
    val log = HtmlOps.plantedFetchLog(docs)
    val base = 1767225600L
    val now = base + 9L * 86400L
    val out = HtmlOps.refetchWave(log, now, 7L * 86400L, ranks).collect()
    assert(out.nonEmpty)
    // singleton canonical groups (115 <= d < 385: the period-385 dup
    // pairs need both members under 500) make the planted arithmetic
    // exact per doc
    val canonOf = (d: Long) => HtmlOps.plantedDirtyUrlCorpus(docs)
      .filter(col("doc_id") === d)
      .select(HtmlOps.canonicalUrl(col("url"))).head().getString(0)
    // the due-set arithmetic on the three keys it is about: the
    // latest-fetch reduction is per key, so their log rows alone
    // decide it, and three keys never fill a domain's 10 slots (the
    // politeness cap can bump an individual due key of the full log)
    val keys = Seq(115L, 116L, 194L).map(canonOf)
    val due = HtmlOps.refetchWave(
        log.filter(HtmlOps.canonicalUrl(col("url")).isin(keys: _*)),
        now, 7L * 86400L, ranks).collect()
    val byCanon = due.map(r => r.getString(0) -> r).toMap
    // doc 115 first-fetched at +18h — stale by THAT fetch alone — but
    // RE-fetched at +66h: the latest fetch wins, so it is NOT due
    assert(!byCanon.contains(canonOf(115L)))
    // doc 116 (%5 != 0, single fetch at +19h) is due with that time
    val d116 = byCanon(canonOf(116L))
    assert(d116.getAs[Long]("last_fetch_s") === base + 19L * 3600L)
    assert(d116.getAs[Long]("age_s") === now - (base + 19L * 3600L))
    // doc 194 (%97 == 0, single fetch at the epoch base) is the
    // oldest possible candidate
    assert(byCanon(canonOf(194L)).getAs[Long]("last_fetch_s") === base)
    // every due key is genuinely stale, and slots order oldest-first
    out.foreach(r => assert(r.getAs[Long]("age_s") >= 7L * 86400L))
    out.groupBy(_.getAs[String]("domain")).foreach { case (_, g) =>
      assert(g.length <= 10)
      val bySlot = g.sortBy(_.getAs[Int]("slot"))
      assert(bySlot.map(_.getAs[Long]("last_fetch_s")).toSeq ===
        bySlot.map(_.getAs[Long]("last_fetch_s")).sorted.toSeq)
    }
  }

  test("sitemapSeeds (q197): the full admission pipeline gates publisher URLs") {
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val base = java.nio.file.Files.createTempDirectory("graft-sitemap-")
    try {
      val scope = graft.core.Scopes.create(spark, base.toString)
      HtmlOps.saveUrlKeys(HtmlOps.plantedDirtyUrlCorpus(docs), scope, "keys")
      val pages = HtmlOps.plantedHtmlCorpus(docs)
      val out = HtmlOps.sitemapSeeds(HtmlOps.plantedSitemaps(spark),
          scope, "keys",
          graft.ops.GraphOps.domainRank(HtmlOps.domainEdges(pages)),
          HtmlOps.plantedRobotsRules(spark))
        .collect()
      val byDomain = out.groupBy(_.getString(2)).view.mapValues(_.length).toMap
      // s0-s4 sitemaps list only ALREADY-FETCHED pages (every (w,s,p)
      // residue combo under 385 is a stored key) — the anti-join
      // drops them wholesale
      (0 to 4).foreach(k => assert(!byDomain.contains(s"s$k.example"), k))
      // blocklisted domains never seed
      assert(!byDomain.contains("s11.example"))
      // the %4==1 blanket-disallow domain's /p/ locs all fail robots
      assert(!byDomain.contains("s9.example"))
      // even domains keep ONLY the locs the /p/1 allow reopens
      // (paths /p/1 and /p/10 — two of ten entries)
      assert(byDomain("s8.example") === 2)
      assert(byDomain("s12.example") === 2)
      out.filter(r => Set("s8.example", "s12.example")(r.getString(2)))
        .foreach(r => assert(r.getString(0).matches(".*/p/1[0]?$"), r))
      // tie-allow (%4==2) and rule-less (%4==3) domains keep all ten
      assert(byDomain("s6.example") === 10)
      assert(byDomain("s10.example") === 10)
      assert(byDomain("s7.example") === 10)
      // LASTMOD is carried and decides: within every domain, slots
      // run stale-first (lastmod asc, canon tiebreak)
      out.groupBy(_.getString(2)).values.foreach { g =>
        val bySlot = g.sortBy(_.getAs[Int]("slot"))
          .map(r => (r.getAs[String]("lastmod"), r.getAs[String]("canon")))
        assert(bySlot.sameElements(bySlot.sorted), bySlot.toSeq)
      }
      // the planted dup-loc collision (s12's /p/1 listed twice): both
      // occurrences merge into one seed, the STALEST declaration
      // survives (min — not the +14d dup), and the refs count says 2
      val dup = out.find(r => r.getString(2) == "s12.example" &&
        r.getAs[String]("canon").endsWith("/p/1")).get
      assert(dup.getAs[Long]("n_refs") === 2L)
      assert(dup.getAs[String]("lastmod") === "2026-01-13")
      // ... and lastmod CHANGES the kept order: s8's stalest seed is
      // /p/10 (2026-01-11 < /p/1's 2026-01-13), where the canon
      // tiebreak alone would have put /p/1 first
      val s8 = out.filter(_.getString(2) == "s8.example")
        .sortBy(_.getAs[Int]("slot"))
      assert(s8.head.getAs[String]("canon").endsWith("/p/10"), s8.toSeq)
      // the rank join is real: surviving seeds carry their domain's
      // epoch rank, not the left-join zero fallback
      val ranks = graft.ops.GraphOps.domainRank(
          HtmlOps.domainEdges(pages)).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      out.foreach(r => assert(
        r.getAs[Long]("pr") === ranks.getOrElse(r.getString(2), 0L), r))
      assert(out.exists(_.getAs[Long]("pr") > 0L))
      // ... and the politeness cap actually DROPS under a tighter k
      val capped = HtmlOps.sitemapSeeds(HtmlOps.plantedSitemaps(spark),
          scope, "keys",
          graft.ops.GraphOps.domainRank(HtmlOps.domainEdges(pages)),
          HtmlOps.plantedRobotsRules(spark), kPerDomain = 4)
        .collect().groupBy(_.getString(2)).view.mapValues(_.length)
      Seq("s6.example", "s7.example", "s10.example")
        .foreach(d => assert(capped(d) === 4, d))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("sitemapSeedsTree (q215): bounded depth-N walk — visited set breaks cycles, corrupt members are verdicts, depth knob governs") {
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val base = java.nio.file.Files.createTempDirectory("graft-smtree-")
    try {
      val scope = graft.core.Scopes.create(spark, base.toString)
      HtmlOps.saveUrlKeys(HtmlOps.plantedDirtyUrlCorpus(docs), scope, "keys")
      val pages = HtmlOps.plantedHtmlCorpus(docs)
      val ranks = graft.ops.GraphOps.domainRank(HtmlOps.domainEdges(pages))
      val rules = HtmlOps.plantedRobotsRules(spark)
      val tree = HtmlOps.plantedSitemapTree(spark)
      def seeds(t: org.apache.spark.sql.DataFrame) =
        HtmlOps.sitemapSeedsTree(t, scope, "keys", ranks, rules)
          .select("canon", "domain").collect()
          .map(r => (r.getString(0), r.getString(1))).toSet
      val baseline = seeds(tree)
      assert(baseline.nonEmpty)

      // (a) SELF-REFERENCING index: s7's root lists ITSELF as a
      // member. The visited set (seeded with the roots) refuses the
      // re-walk — termination by guard, not by accident — and the
      // admitted set is exactly the baseline. (The fixture's own s8
      // chain plants the deeper cycle: its mid-tree index points back
      // at the root.)
      val cyc = tree.withColumn("xml",
        when(col("url") === "https://s7.example/sitemap.xml",
          regexp_replace(col("xml"), "</sitemapindex>",
            "<sitemap><loc>https://s7.example/sitemap.xml</loc>" +
              "</sitemap></sitemapindex>"))
          .otherwise(col("xml")))
      assert(seeds(cyc) === baseline)

      // (b) CORRUPT gzip member: s8's a-half fails structural
      // verification → contributes nothing (verdict, not a crash).
      // Both of s8's admissible locs (/p/1, /p/10) live in the a-half,
      // so s8 vanishes; every other domain is untouched
      val corrupt = tree.withColumn("xml_gz",
        when(col("url") === "https://s8.example/sitemap-a.xml.gz",
          lit("not a gzip member".getBytes("ISO-8859-1")))
          .otherwise(col("xml_gz")))
      val corruptSeeds = seeds(corrupt)
      assert(baseline.exists(_._2 == "s8.example"))
      assert(!corruptSeeds.exists(_._2 == "s8.example"))
      assert(corruptSeeds === baseline.filterNot(_._2 == "s8.example"))

      // (c) UNRESOLVABLE deep loc: s10's a-half member becomes an
      // index whose declared child was never fetched. The walk
      // expands it (depth 2) but the child URL resolves to no doc —
      // the a-half entries are lost, only the b-half admits (no
      // crash, no phantom entries)
      val nested = "<?xml version=\"1.0\"?><sitemapindex><sitemap>" +
        "<loc>https://s10.example/sitemap-c.xml.gz</loc>" +
        "</sitemap></sitemapindex>"
      val deep = tree.withColumn("xml_gz",
        when(col("url") === "https://s10.example/sitemap-a.xml.gz",
          encode(graft.functions.HttpFunctions.gzipTransport(lit(nested)),
            "ISO-8859-1"))
          .otherwise(col("xml_gz")))
      val deepSeeds = seeds(deep)
      val s10Base = baseline.filter(_._2 == "s10.example")
      val s10Deep = deepSeeds.filter(_._2 == "s10.example")
      assert(s10Base.size === 10)
      assert(s10Deep.size === 6, s10Deep) // b-half entries + the dup loc
      assert(s10Deep.subsetOf(s10Base))
      assert(deepSeeds.filterNot(_._2 == "s10.example") ===
        baseline.filterNot(_._2 == "s10.example"))

      // (d) the DEPTH CAP governs: s8's a-half rides behind the
      // fixture's mid-tree index (depth 2); deepen the chain and a walk
      // that stops after 3 waves never reaches it — s8's admissible
      // locs (/p/1, /p/10, both in the a-half) vanish
      val idx1 = "https://s8.example/sitemap-idx1.xml.gz"
      def idx(i: Int) = s"https://s8.example/sitemap-idx$i.xml"
      def index(loc: String) = "<?xml version=\"1.0\"?><sitemapindex>" +
        s"<sitemap><loc>$loc</loc></sitemap></sitemapindex>"
      // `levels` more plain index levels between idx1 and the a-half:
      // idx1 → idx2 → … → idx(levels + 1) → sitemap-a
      def chained(levels: Int) = tree
        .withColumn("xml", when(col("url") === idx1, lit(index(idx(2))))
          .otherwise(col("xml")))
        .withColumn("xml_gz", when(col("url") === idx1, lit(null))
          .otherwise(col("xml_gz")))
        .unionByName((2 to levels + 1).map { i =>
          (idx(i), index(if (i == levels + 1)
            "https://s8.example/sitemap-a.xml.gz" else idx(i + 1)))
        }.toDF("url", "xml").withColumn("xml_gz", lit(null).cast("binary")))
      // one extra level puts the a-half at depth 3, the walk's last
      // wave: s8 still admits
      assert(seeds(chained(1)) === baseline)
      // two put it at depth 4, past the walk
      val shallow = seeds(chained(2))
      assert(baseline.exists(_._2 == "s8.example"))
      assert(!shallow.exists(_._2 == "s8.example"))
      assert(shallow === baseline.filterNot(_._2 == "s8.example"))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("rank budgets (q228): proportional share with floor/ceiling clamps; zero-sum degrades to the floor") {
    import spark.implicits._
    val ranks = Seq(("big.example", 80L), ("mid.example", 15L),
      ("small.example", 1L), ("zero.example", 0L))
      .toDF("domain", "pr")
    val b = HtmlOps.rankBudgets(ranks, totalBudget = 96, maxPerDomain = 50)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    // tot = 96: big 80 → 80 slots → capped 50; mid 15 → 15;
    // small 1 → 1; zero → 0 → floored 1
    assert(b === Map("big.example" -> 50, "mid.example" -> 15,
      "small.example" -> 1, "zero.example" -> 1))
    // an all-zero rank table must not divide by zero — every domain
    // takes the floor
    val z = HtmlOps.rankBudgets(
        Seq(("a.example", 0L)).toDF("domain", "pr"), 10)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(z === Map("a.example" -> 1))
  }

  test("adaptive refetch (q227): observed inter-change interval sets the TTL at half rate") {
    import spark.implicits._
    val t0 = 1767225600L
    def v(canon: String, daysAgo: Long*) = daysAgo.map(d =>
      (canon, s"b$d", t0 - d * 86400L))
    val versions = (
      // churns every 2 days (4 versions) → ttl 1d → due at now=t0+3d
      v("https://a.example/hot", 0, 2, 4, 6) ++
      // churns every 20 days → ttl 10d → fresh at 3d age
      v("https://a.example/cold", 0, 20, 40) ++
      // churned once, 1 day apart → ttl clamps UP to minTtl 1d → due
      v("https://a.example/rapid", 0, 1) ++
      // never changed: the default arm (2d ≤ 3d → due)
      v("https://a.example/static", 0) ++
      // irregular history: span 9d over 2 intervals → mean 4.5d →
      // ttl 2.25d (integer: 194400) → due at 3d age
      v("https://a.example/mixed", 0, 1, 9))
      .toDF("canon", "body", "content_fetch_s")
    val ranks = Seq(("a.example", 1L)).toDF("domain", "pr")
    val out = HtmlOps.adaptiveRefetchWave(versions,
        nowS = t0 + 3L * 86400L, defaultTtlS = 2L * 86400L,
        minTtlS = 86400L, maxTtlS = 30L * 86400L, ranks = ranks)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(out.keySet === Set("https://a.example/hot",
      "https://a.example/rapid", "https://a.example/static",
      "https://a.example/mixed"))
    assert(out("https://a.example/hot") === ((4L, 86400L)))
    assert(out("https://a.example/rapid") === ((2L, 86400L)))
    assert(out("https://a.example/static") === ((1L, 172800L)))
    assert(out("https://a.example/mixed") === ((3L, 194400L)))
  }

  test("warc export (q226): round trip is identity, even for trap bodies") {
    import spark.implicits._
    // bodies chosen to break naive framing: one QUOTES a WARC record
    // (version-line splitting would shatter it — only the strict
    // octet walk survives), one ENDS in CRLF (the warcFrame
    // record-framing strip eats it — the DOCUMENTED read-side
    // limitation, so the round trip must yield the length_ok
    // VERDICT, never silent corruption), one is empty
    val trap = "<html><title>T</title><body>see WARC/1.0\r\n" +
      "WARC-Type: response\r\nquoted</body></html>"
    val crlfEnd = "<html><title>C</title><body>tail</body></html>\r\n"
    val pages = Seq(
      (1L, "https://a.example/p/1", trap),
      (2L, "https://a.example/p/2", crlfEnd),
      (3L, "https://a.example/p/3", ""))
      .toDF("doc_id", "url", "html")
      .withColumn("fetched_at_s", lit(1767225600L))
    def ingest(chunks: org.apache.spark.sql.DataFrame) =
      HtmlOps.httpFrame(HtmlOps.warcFrame(chunks, "warc"))
        .select(col("doc_id"), col("target_uri"), col("warc_date"),
          col("length_ok"), col("http_ok"), col("body_ok"), col("body"))
        .collect().map(r => r.getLong(0) ->
          (r.getString(1), r.getString(2), r.getBoolean(3) &&
            r.getBoolean(4) && r.getBoolean(5), r.getString(6))).toMap
    val plain = ingest(HtmlOps.exportWarc(pages))
    val gz = ingest(HtmlOps.gunzipWarcChunks(
      HtmlOps.exportWarc(pages, gzip = true)))
    for (m <- Seq(plain, gz)) {
      assert(m.keySet === Set(1L, 2L, 3L))
      assert(m(1L) === (("https://a.example/p/1",
        "2026-01-01T00:00:00Z", true, trap)))
      // CRLF-ending payloads (a body ending in CRLF, or an EMPTY
      // body whose payload then ends at the header blank line): the
      // strip shortens the payload below its declared length — the
      // verdict is the audit trail, and the surviving bytes are
      // exactly the stripped form
      assert(!m(2L)._3)
      assert(m(2L)._4 === crlfEnd.stripSuffix("\r\n"))
      assert(!m(3L)._3)
      assert(m(3L)._4 === "")
    }
  }

  test("feed discovery (q225): block-scoped parse, enclosure/self links excluded, newest-first cap") {
    import spark.implicits._
    val rss = "<rss><channel>" +
      "<link>https://a.example/</link>" + // channel-level: NOT an entry
      "<item><link>https://a.example/new</link>" +
      "<pubDate>Fri, 02 Jan 2026 00:00:00 GMT</pubDate></item>" +
      "<item><link>https://a.example/old</link>" +
      "<pubDate>Thu, 01 Jan 2026 00:00:00 GMT</pubDate></item>" +
      "<item><link>https://a.example/undated</link></item>" +
      "</channel></rss>"
    val atom = "<feed>" +
      "<link rel=\"self\" href=\"https://b.example/feed.xml\"/>" + // feed-level
      "<entry><link rel=\"enclosure\" href=\"https://cdn.example/x.mp3\"/>" +
      "<link href=\"https://b.example/e1\"/>" +
      "<updated>2026-01-03T12:00:00Z</updated></entry>" +
      "<entry><link rel=\"alternate\" href=\"https://b.example/e2\"/>" +
      "<updated>2026-01-04T00:00:00Z</updated></entry>" +
      "</feed>"
    val base = java.nio.file.Files.createTempDirectory("graft-feeds-")
    try {
      val scope = graft.core.Scopes.create(spark, base.toString)
      // the key store already holds /old — the anti-join must drop it
      HtmlOps.saveUrlKeys(
        Seq((1L, "https://a.example/old")).toDF("doc_id", "url"),
        scope, "keys")
      val ranks = Seq(("a.example", 2L), ("b.example", 1L))
        .toDF("domain", "pr")
      val out = HtmlOps.feedSeeds(Seq(rss, atom).toDF("xml"), scope,
        "keys", ranks, emptyRanks.select(col("domain"),
          lit(true).as("allow"), lit("/never").as("prefix")))
        .collect()
        .map(r => r.getString(1) -> (if (r.isNullAt(4)) -1L else r.getLong(4),
          r.getInt(6))).toMap
      // channel/self/enclosure URLs never became candidates; /old
      // was anti-joined away
      assert(out.keySet === Set("https://a.example/new",
        "https://a.example/undated", "https://b.example/e1",
        "https://b.example/e2"))
      // RFC 822 and ISO dates both parse; undated competes LAST
      assert(out("https://a.example/new")._1 === 1767312000L)
      assert(out("https://a.example/new")._2 === 1)
      assert(out("https://a.example/undated") === ((-1L, 2)))
      // newest-published-first within b.example
      assert(out("https://b.example/e2")._2 === 1)
      assert(out("https://b.example/e1")._2 === 2)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("unified refetch (q224): declaration beats heuristic beats default, and suppresses both ways") {
    import spark.implicits._
    val t0 = 1767225600L
    def lm(daysBefore: Long) = {
      val ts = new java.sql.Timestamp((t0 - daysBefore * 86400L) * 1000L)
      new java.text.SimpleDateFormat("EEE, dd MMM yyyy HH:mm:ss 'GMT'") {
        setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
      }.format(ts)
    }
    // all fetched at t0; now = t0 + 3 days; defaultTtl 2d, clamp [1d, 30d]
    val log = Seq(
      // declared-changed (+1d) OVER a fresh heuristic (800d-old page
      // → 30d ttl would have said fresh): sitemap schedules anyway
      ("https://a.example/declared-new", t0, "", lm(800)),
      // declared-unchanged (-1d) OVER a stale heuristic (5d-old page
      // → 1d ttl would have fired): sitemap suppresses
      ("https://a.example/declared-old", t0, "", lm(5)),
      // undeclared + validator 15d old → ttl 1.5d ≤ 3d: heuristic due
      ("https://a.example/heur-due", t0, "", lm(15)),
      // undeclared + validator 400d old → ttl 30d: heuristic fresh
      ("https://a.example/heur-fresh", t0, "", lm(400)),
      // undeclared, no validator: default TTL 2d ≤ 3d age → due
      ("https://a.example/plain", t0, "", ""),
      // a FUTURE Last-Modified is a lying clock → default arm
      ("https://a.example/liar", t0, "", lm(-9)))
      .toDF("url", "fetched_at_s", "etag", "last_modified")
    val sitemaps = Seq(
      "<urlset><url><loc>https://a.example/declared-new</loc>" +
        "<lastmod>2026-01-02</lastmod></url>" +
        "<url><loc>https://a.example/declared-old</loc>" +
        "<lastmod>2025-12-31</lastmod></url></urlset>").toDF("xml")
    val ranks = Seq(("a.example", 3L)).toDF("domain", "pr")
    val out = HtmlOps.unifiedRefetchWave(log, sitemaps,
        nowS = t0 + 3L * 86400L, defaultTtlS = 2L * 86400L,
        minTtlS = 86400L, maxTtlS = 30L * 86400L, ranks = ranks)
      .collect().map(r => r.getString(1) -> r.getString(3)).toMap
    assert(out("https://a.example/declared-new") === "sitemap")
    assert(!out.contains("https://a.example/declared-old")) // suppressed
    assert(out("https://a.example/heur-due") === "heuristic")
    assert(!out.contains("https://a.example/heur-fresh"))
    assert(out("https://a.example/plain") === "default")
    assert(out("https://a.example/liar") === "default")
    assert(out.size === 4)
  }

  test("sitemap refetch (q223): lastmod strictly newer than the latest fetch schedules; declared-unchanged skips") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-smrf-")
    try {
      val scope = graft.core.Scopes.create(spark, base.toString)
      // fetch log: u1 fetched Jan 10, u2 Jan 20, u3 Jan 5 (+ a later
      // re-fetch Jan 25 — the ARGMAX fetch must be the comparand)
      def d(day: Int) = 1767225600L + (day - 1) * 86400L
      HtmlOps.saveFetchLog(Seq(
        ("https://a.example/u1", d(10)),
        ("https://a.example/u2", d(20)),
        ("https://a.example/u3", d(5)),
        ("https://a.example/u3", d(25)))
        .toDF("url", "fetched_at_s"), scope, "flog")
      val xml = ("<urlset>" +
        // u1: declared changed Jan 15 (> Jan 10) → due, drift 5 days
        "<url><loc>https://a.example/u1</loc><lastmod>2026-01-15</lastmod></url>" +
        // u1 dup entry with an OLDER lastmod — max() must keep Jan 15
        "<url><loc>https://a.example/u1</loc><lastmod>2026-01-02</lastmod></url>" +
        // u2: declared Jan 12 (< fetch Jan 20) → skipped though listed
        "<url><loc>https://a.example/u2</loc><lastmod>2026-01-12</lastmod></url>" +
        // u3: Jan 15 beats the FIRST fetch (Jan 5) but not the
        // re-fetch (Jan 25) → skipped — latest fetch is the comparand
        "<url><loc>https://a.example/u3</loc><lastmod>2026-01-15</lastmod></url>" +
        // u4: not in the log → discovery, not a refetch
        "<url><loc>https://a.example/u4</loc><lastmod>2026-01-15</lastmod></url>" +
        // u5: no parseable lastmod → no signal, rides the TTL wave
        "<url><loc>https://a.example/u5</loc><lastmod>recently</lastmod></url>" +
        "</urlset>")
      val ranks = Seq(("a.example", 7L)).toDF("domain", "pr")
      val out = HtmlOps.sitemapRefetchWave(
        Seq(xml).toDF("xml"), spark, scope, "flog", ranks).collect()
      assert(out.length === 1)
      val r = out.head
      assert(r.getString(1) === "https://a.example/u1")
      assert(r.getLong(3) === d(15))
      assert(r.getLong(4) === d(10))
      assert(r.getLong(5) === 5L * 86400L)
      assert(r.getLong(6) === 7L)
      assert(r.getInt(7) === 1)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("robots availability (q222): 4xx allows, 5xx serves cache then disallows, redirects adopt the final file") {
    import spark.implicits._
    val links = Seq(
      ("ok.example", "https://ok.example/p/1"),
      ("gone.example", "https://gone.example/p/1"),
      ("err-fresh.example", "https://err-fresh.example/p/1"),
      ("err-stale.example", "https://err-stale.example/p/1"),
      ("moved.example", "https://moved.example/p/1"),
      ("loopy.example", "https://loopy.example/p/1"),
      ("silent.example", "https://silent.example/p/1"))
      .toDF("domain", "url")
    val fetches = Seq(
      (1L, "ok.example", "https://ok.example/robots.txt", 200, "",
        "User-agent: *\nDisallow: /p/\n", 0),
      (2L, "gone.example", "https://gone.example/robots.txt", 404, "",
        null.asInstanceOf[String], 0),
      (3L, "err-fresh.example", "https://err-fresh.example/robots.txt",
        500, "", null.asInstanceOf[String], 29),
      (4L, "err-stale.example", "https://err-stale.example/robots.txt",
        503, "", null.asInstanceOf[String], 31),
      // moved.example 301s onto ok.example's file — whose Disallow
      // must then gate moved.example's OWN paths
      (5L, "moved.example", "https://moved.example/robots.txt", 301,
        "https://ok.example/robots.txt", null.asInstanceOf[String], 0),
      (6L, "loopy.example", "https://loopy.example/robots.txt", 301,
        "https://loopy.example/robots.txt", null.asInstanceOf[String], 0))
      .toDF("doc_id", "domain", "url", "http_status", "redirect_to",
        "robots_txt", "cache_age_days")
    // the cached copy err-*.example holds from a better day: allow /p/
    val cached = Seq(
      ("err-fresh.example", true, "/p/"),
      ("err-stale.example", true, "/p/"))
      .toDF("domain", "allow", "prefix")
    val out = HtmlOps.robotsAvailabilityGate(links, fetches, cached)
      .collect().map(r => r.getString(0) ->
        (r.getString(2), r.getBoolean(3), r.getInt(4))).toMap
    assert(out("ok.example") === (("parsed", false, 3)))
    assert(out("gone.example") === (("allow_all", true, -1)))
    // 5xx + fresh cache: the HELD rules apply (here an allow)
    assert(out("err-fresh.example") === (("cached", true, 3)))
    // 5xx + stale cache: complete disallow, whatever the cache says
    assert(out("err-stale.example") === (("disallow_all", false, -1)))
    // the followed redirect adopts ok.example's file for ITS paths
    assert(out("moved.example") === (("parsed", false, 3)))
    // a self-redirecting robots URL is unavailable → allow-all
    assert(out("loopy.example") === (("allow_all", true, -1)))
    // no fetch row at all: gate whatever rules were supplied (none)
    assert(out("silent.example") === (("unfetched", true, -1)))
  }

  test("redirect chains (q221): bounded walk resolves runs, verdicts loops and over-cap chains") {
    import spark.implicits._
    // a hand-built frame: A→B→C→FINAL (3 hops), L1⇄L2 (loop), a
    // 7-run T1..T7→END (origins T1/T2 exceed the 5-cap), D→ext
    // (dangling), and a refetched URL whose LATEST fetch (doc_id
    // argmax) turned 200 — its old 301 must not spawn a chain
    def m(id: Long, url: String, st: Int, loc: String) =
      (id, url, st, loc)
    val rows = Seq(
      m(1, "A", 301, "B"), m(2, "B", 302, "C"), m(3, "C", 301, "FINAL"),
      m(4, "FINAL", 200, ""),
      m(5, "L1", 301, "L2"), m(6, "L2", 301, "L1"),
      m(10, "T1", 301, "T2"), m(11, "T2", 301, "T3"),
      m(12, "T3", 301, "T4"), m(13, "T4", 301, "T5"),
      m(14, "T5", 301, "T6"), m(15, "T6", 301, "T7"),
      m(16, "T7", 301, "END"), m(17, "END", 200, ""),
      m(20, "D", 302, "https://ext.example/x"),
      m(21, "R", 301, "A"), m(22, "R", 200, ""))
      .toDF("doc_id", "url", "http_status", "redirect_to")
    val out = HtmlOps.resolveRedirectChains(rows).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getInt(2),
        r.getString(3), if (r.isNullAt(4)) -1 else r.getInt(4))).toMap
    assert(out("A") === (("FINAL", 3, "resolved", 200)))
    assert(out("B") === (("FINAL", 2, "resolved", 200)))
    assert(out("C") === (("FINAL", 1, "resolved", 200)))
    // the loop pair: both origins verdict at hops=2, where the walk
    // first revisits a URL
    assert(out("L1") === (("L1", 2, "loop", 301)))
    assert(out("L2") === (("L2", 2, "loop", 301)))
    // the 7-run: T1/T2 exhaust the cap mid-chain; T3 lands exactly
    // at hops=5 (resolved beats too_deep when the target terminates)
    assert(out("T1") === (("T6", 5, "too_deep", 301)))
    assert(out("T2") === (("T7", 5, "too_deep", 301)))
    assert(out("T3") === (("END", 5, "resolved", 200)))
    assert(out("T7") === (("END", 1, "resolved", 200)))
    // dangling: resolved out of the fetched set, final_status null
    assert(out("D") === (("https://ext.example/x", 1, "resolved", -1)))
    // the refetched URL: its latest fetch is a 200, so no chain row
    assert(!out.contains("R"))
    assert(out.size === 13) // A,B,C + L1,L2 + T1..T7 + D — every 3xx an origin
  }

  test("sitemap discovery (q220): Sitemap: decls are file-wide, absolute-only, and select the tree roots") {
    import spark.implicits._
    // the parse: file-wide (OUTSIDE the star group — a decl before
    // any User-agent line must land), absolute-only, comment/CRLF
    // tolerant, never leaking into the rule parse
    val txt = Seq(("d.example",
      "Sitemap: https://d.example/a.xml\r\n" +
        "User-agent: bad\nDisallow: /\n" +
        "User-agent: *\n" +
        "sitemap: https://d.example/b.xml # mirror\n" +
        "Sitemap: /relative.xml\n" +
        "Disallow: /p/\n")).toDF("domain", "robots_txt")
    val decls = HtmlOps.parseSitemapDecls(txt).collect()
      .map(_.getString(1)).toSet
    assert(decls === Set("https://d.example/a.xml",
      "https://d.example/b.xml"))
    // ... and the rule parse is unchanged by the decl lines
    val rules = HtmlOps.parseRobotsRules(txt).collect()
      .map(r => (r.getBoolean(1), r.getString(2))).toSet
    assert(rules === Set((false, "/p/")))
    // the fixture's decls: odd domains absolute, %4==0 relative
    // (ignored) — and the parse-equality pin elsewhere proves the
    // new lines never leak into rules/delays
    val planted = HtmlOps.parseSitemapDecls(
      HtmlOps.plantedRobotsTxt(spark)).collect()
    assert(planted.length === 6)
    planted.foreach { r =>
      val k = r.getString(0).stripPrefix("s").stripSuffix(".example").toInt
      assert(k % 2 === 1, r.toString)
      assert(r.getString(1) === s"https://s$k.example/sitemap.xml")
    }
    // discovery end-to-end: the declared roots walk like q215, so
    // the admitted set is exactly the name-probed walk restricted to
    // the declaring domains
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val base = java.nio.file.Files.createTempDirectory("graft-smdisc-")
    try {
      val scope = graft.core.Scopes.create(spark, base.toString)
      HtmlOps.saveUrlKeys(HtmlOps.plantedDirtyUrlCorpus(docs), scope, "keys")
      val pages = HtmlOps.plantedHtmlCorpus(docs)
      val ranks = graft.ops.GraphOps.domainRank(HtmlOps.domainEdges(pages))
      val rules2 = HtmlOps.plantedRobotsRules(spark)
      val tree = HtmlOps.plantedSitemapTree(spark)
      def seedSet(df: org.apache.spark.sql.DataFrame) = df
        .select("canon", "domain").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      val declared = seedSet(HtmlOps.sitemapSeedsTree(tree, scope, "keys",
        ranks, rules2, rootUrls = Some(HtmlOps.parseSitemapDecls(
          HtmlOps.plantedRobotsTxt(spark)).select(col("url")))))
      val named = seedSet(HtmlOps.sitemapSeedsTree(tree, scope, "keys",
        ranks, rules2))
      val oddDomains = (0 to 12).filter(_ % 2 == 1)
        .map(k => s"s$k.example").toSet
      assert(declared === named.filter(p => oddDomains(p._2)))
      assert(declared.nonEmpty)
      // even domains' sitemaps exist but were never declared
      assert(named.exists(p => !oddDomains(p._2)))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("anchorBoostedFrontier (q201): anchor terms reorder politeness slots, never admission") {
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val base = java.nio.file.Files.createTempDirectory("graft-anchor-fr-")
    try {
      val scope = graft.core.Scopes.create(spark, base.toString)
      HtmlOps.saveUrlKeys(HtmlOps.plantedDirtyUrlCorpus(docs), scope, "keys")
      val pages = HtmlOps.plantedHtmlCorpus(docs)
      val ranks = graft.ops.GraphOps.domainRank(HtmlOps.domainEdges(pages))
      val rules = HtmlOps.plantedRobotsRules(spark)
      val boosted = HtmlOps.anchorBoostedFrontier(pages, scope, "keys",
        ranks, rules).collect()
      assert(boosted.nonEmpty)
      // the signal lands where planted: /r/ targets are anchored
      // "Ref <id>" (term 'ref' — boosted), /p/ and /nav are not
      boosted.foreach { r =>
        val expect = if (r.getAs[String]("canon").contains("/r/")) 1L else 0L
        assert(r.getAs[Long]("anchor_score") === expect, r.toString)
      }
      // within every domain the boost ORDERS the slots: all boosted
      // candidates come before every unboosted one
      boosted.groupBy(_.getAs[String]("domain")).values.foreach { g =>
        val scoresBySlot = g.sortBy(_.getAs[Int]("slot"))
          .map(_.getAs[Long]("anchor_score"))
        assert(scoresBySlot.sameElements(scoresBySlot.sorted.reverse), g.toSeq)
      }
      // the boost CHANGES at least one domain's first slot vs the
      // plain polite wave — the composition is observable, not inert
      val polite = HtmlOps.politeFrontier(pages, scope, "keys",
        ranks, rules).collect()
      def slot1(rows: Array[org.apache.spark.sql.Row]) = rows
        .filter(_.getAs[Int]("slot") == 1)
        .map(r => r.getAs[String]("domain") -> r.getAs[String]("canon"))
        .toMap
      val flips = slot1(boosted).toSet -- slot1(polite).toSet
      assert(flips.nonEmpty, "anchor signal changed no slot")
      // ... and admission is untouched: boosting never smuggles in a
      // candidate the polite pipeline would not admit (same per-domain
      // candidate pool). A domain whose polite wave holds fewer than
      // the 10 slots holds its whole pool, so both waves must hold the
      // same candidates there; a capped domain fills 10 slots in both.
      // Compared on a page subset, so that uncapped domains exist
      val few = pages.filter(col("doc_id") % 8 === 0)
      def pools(wave: org.apache.spark.sql.DataFrame) =
        wave.select("domain", "canon").collect()
          .groupBy(_.getString(0)).map { case (d, rs) => d -> rs.map(_.getString(1)).toSet }
      val poolsB = pools(HtmlOps.anchorBoostedFrontier(few, scope, "keys",
        ranks, rules))
      val poolsP = pools(HtmlOps.politeFrontier(few, scope, "keys", ranks, rules))
      assert(poolsB.keySet === poolsP.keySet)
      assert(poolsP.values.exists(_.size < 10))
      poolsP.foreach { case (d, p) =>
        if (p.size < 10) assert(poolsB(d) === p, d)
        else assert(poolsB(d).size === 10, d)
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("parseRobotsRules/parseCrawlDelays (q199): raw robots bytes parse to the planted tables") {
    import spark.implicits._
    val txt = HtmlOps.plantedRobotsTxt(spark)
    // the parse DERIVES the exact rule table the rest of the suite
    // consumes — the planted fixture is now a proven fact
    def ruleSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("domain"), r.getAs[Boolean]("allow"),
        r.getAs[String]("prefix"))).toSet
    assert(ruleSet(HtmlOps.parseRobotsRules(txt)) ===
      ruleSet(HtmlOps.plantedRobotsRules(spark)))
    def delaySet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("domain"), r.getAs[Long]("delay_s"))).toSet
    assert(delaySet(HtmlOps.parseCrawlDelays(txt)) ===
      delaySet(HtmlOps.plantedCrawlDelays(spark)))
    // group scoping: a hostile group's rules leak in NEITHER direction
    // (badbot sits before our group on k%3==0 domains, after it on
    // k%3==1); a file with no star group parses to nothing; MULTIPLE
    // star groups MERGE (RFC 9309 §2.2.1 — real sites publish several)
    val hostile = Seq(
      ("h1.example",
        "User-agent: badbot\nDisallow: /\n\nUser-agent: *\nAllow: /ok\n"),
      ("h2.example",
        "User-agent: *\nDisallow: /no\n\nUser-agent: badbot\nCrawl-delay: 1\n"),
      ("h3.example", "# only comments\nUser-agent: badbot\nDisallow: /\n"),
      ("h4.example",
        "User-agent: *\nAllow: /a\n\nUser-agent: badbot\nDisallow: /b\n\n" +
          "User-agent: *\nDisallow: /\nCrawl-delay: 9\n"),
      // inline comments: the value stops at '#', trailing space
      // trimmed; an all-comment value is an empty rule and drops
      ("h5.example",
        "User-agent: *\nDisallow: /x # staff only\nAllow: # nothing\n"))
      .toDF("domain", "robots_txt")
    val rules = ruleSet(HtmlOps.parseRobotsRules(hostile))
    assert(rules === Set(("h1.example", true, "/ok"),
      ("h2.example", false, "/no"),
      ("h4.example", true, "/a"), ("h4.example", false, "/"),
      ("h5.example", false, "/x")))
    assert(delaySet(HtmlOps.parseCrawlDelays(hostile)) ===
      Set(("h4.example", 9L)))
    // a published 'Crawl-delay: 0' (no rate limit — valid, untrusted
    // input) degrades to NO row (the caller's default applies) rather
    // than tripping scheduleWave's malformed-table guard mid-stream
    val zeroDelay = Seq(("z.example",
      "User-agent: *\nCrawl-delay: 0\n")).toDF("domain", "robots_txt")
    assert(delaySet(HtmlOps.parseCrawlDelays(zeroDelay)) === Set.empty)
    // the empty-Disallow leg (k%5==3): the line is PRESENT in the
    // bytes and ABSENT from the parse — RFC 9309 empty rule values
    // match nothing
    val k3 = HtmlOps.plantedRobotsTxt(spark)
      .filter(col("domain") === "s3.example").head.getAs[String]("robots_txt")
    assert(k3.contains("Disallow:\n"))
    assert(!ruleSet(HtmlOps.parseRobotsRules(txt)).exists(r =>
      r._1 == "s3.example" && r._3 == ""))
  }

  test("scheduleWave (q198): slots become fetch offsets; absent domains use the default") {
    import spark.implicits._
    val wave = Seq(
      ("a", "u1", "s1.example", 1L, 0L, 1),
      ("b", "u2", "s1.example", 1L, 0L, 2),
      ("c", "u3", "s1.example", 1L, 0L, 3),
      ("d", "u4", "s12.example", 1L, 0L, 2))
      .toDF("canon", "url", "domain", "n_refs", "pr", "slot")
    val out = HtmlOps.scheduleWave(wave,
      HtmlOps.plantedCrawlDelays(spark)).collect()
      .map(r => r.getAs[String]("canon") ->
        ((r.getAs[Long]("delay_s"), r.getAs[Long]("not_before_s")))).toMap
    // s1.example publishes delay 5 + (1 % 4) * 10 = 15 s
    assert(out("a") === ((15L, 0L)))
    assert(out("b") === ((15L, 15L)))
    assert(out("c") === ((15L, 30L)))
    // s12.example publishes none -> the default 30 s
    assert(out("d") === ((30L, 30L)))
    // malformed parse output is refused loudly, not silently applied:
    // duplicate domain rows would double-schedule, a non-positive
    // delay would void the rate limit
    intercept[IllegalArgumentException] {
      HtmlOps.scheduleWave(wave, Seq(("s1.example", 5L),
        ("s1.example", 7L)).toDF("domain", "delay_s")).collect()
    }
    intercept[IllegalArgumentException] {
      HtmlOps.scheduleWave(wave,
        Seq(("s1.example", 0L)).toDF("domain", "delay_s")).collect()
    }
    // type tolerance: a robots parser plausibly emits INTEGER delays;
    // the guard must validate them (its own message, not a
    // ClassCastException) and the arithmetic must still be long
    val intDelays = Seq(("s1.example", 15)).toDF("domain", "delay_s")
    val viaInt = HtmlOps.scheduleWave(wave, intDelays).collect()
      .map(r => r.getAs[String]("canon") -> r.getAs[Long]("not_before_s"))
      .toMap
    assert(viaInt("c") === 30L)
    intercept[IllegalArgumentException] {
      HtmlOps.scheduleWave(wave,
        Seq(("s1.example", 0)).toDF("domain", "delay_s")).collect()
    }
    // over the real polite wave: per domain, offsets step by exactly
    // the domain's delay and slot 1 always fires immediately
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val base = java.nio.file.Files.createTempDirectory("graft-sched-")
    try {
      val scope = graft.core.Scopes.create(spark, base.toString)
      HtmlOps.saveUrlKeys(HtmlOps.plantedDirtyUrlCorpus(docs), scope, "keys")
      val pages = HtmlOps.plantedHtmlCorpus(docs)
      val sched = HtmlOps.scheduleWave(
        HtmlOps.politeFrontier(pages, scope, "keys",
          graft.ops.GraphOps.domainRank(HtmlOps.domainEdges(pages)),
          HtmlOps.plantedRobotsRules(spark)),
        HtmlOps.plantedCrawlDelays(spark)).collect()
      assert(sched.nonEmpty)
      sched.groupBy(_.getAs[String]("domain")).foreach { case (_, g) =>
        val bySlot = g.sortBy(_.getAs[Int]("slot"))
        assert(bySlot.head.getAs[Long]("not_before_s") === 0L)
        val d = bySlot.head.getAs[Long]("delay_s")
        bySlot.foreach(r => assert(r.getAs[Long]("not_before_s") ===
          (r.getAs[Int]("slot") - 1).toLong * d))
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("politeFrontier (q191): robots-disallowed candidates never reach the wave") {
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val base = java.nio.file.Files.createTempDirectory("graft-polite-")
    try {
      val scope = graft.core.Scopes.create(spark, base.toString)
      HtmlOps.saveUrlKeys(HtmlOps.plantedDirtyUrlCorpus(docs), scope, "keys")
      val pages = HtmlOps.plantedHtmlCorpus(docs)
      val ranks = graft.ops.GraphOps.domainRank(HtmlOps.domainEdges(pages))
      val rules = HtmlOps.plantedRobotsRules(spark)
      val rude = HtmlOps.crawlFrontier(pages, scope, "keys", ranks)
        .collect().map(_.getString(1)).toSet
      val polite = HtmlOps.politeFrontier(pages, scope, "keys", ranks, rules)
        .collect()
      assert(polite.nonEmpty)
      // every polite wave URL passes the gate when re-checked alone
      import spark.implicits._
      val recheck = HtmlOps.robotsGate(
        polite.map(r => (r.getString(1), r.getString(2))).toSeq
          .toDF("url", "domain"), rules)
        .collect()
      recheck.foreach(r => assert(r.getAs[Boolean]("allowed"), r.toString))
      // ... and the gate provably bites: the rude wave fetches at
      // least one URL robots forbids, which the polite wave dropped
      val rudeVerdicts = HtmlOps.robotsGate(
        rude.toSeq.toDF("url").withColumn("domain",
          graft.ops.PiiOps.registrableDomain(HtmlOps.hostOf(col("url")))),
        rules).collect()
      val forbidden = rudeVerdicts.filter(!_.getAs[Boolean]("allowed"))
        .map(_.getAs[String]("url")).toSet
      assert(forbidden.nonEmpty, "fixture lost its planted disallow overlap")
      val politeUrls = polite.map(_.getString(1)).toSet
      assert(forbidden.intersect(politeUrls).isEmpty)
      // the cap still holds per domain
      polite.groupBy(_.getString(2)).foreach { case (_, g) =>
        assert(g.length <= 10)
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("crawlFrontier: fetched keys never reappear; the cap and the loop hold") {
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val urls = HtmlOps.plantedDirtyUrlCorpus(docs)
    val base = java.nio.file.Files.createTempDirectory("graft-frontier-")
    try {
      val scope = graft.core.Scopes.create(spark, base.toString)
      HtmlOps.saveUrlKeys(urls, scope, "keys")
      val pages = HtmlOps.plantedHtmlCorpus(docs)
      val ranks = graft.ops.GraphOps.domainRank(HtmlOps.domainEdges(pages))
      val frontier = HtmlOps.crawlFrontier(pages, scope, "keys", ranks)
        .localCheckpoint(eager = true) // pin: the artifact mutates below
      val rows = frontier.collect()
      assert(rows.nonEmpty)
      // ALREADY-FETCHED KEYS NEVER REAPPEAR — and the anti-join
      // provably bites: docs 0-4's next-link canon equals their own
      // fetched key (the only CRT solutions to %13==%5 under 500)
      val stored = HtmlOps.loadUrlKeys(spark, scope, "keys")
        .select("canon").collect().map(_.getString(0)).toSet
      rows.foreach(r => assert(!stored.contains(r.getString(0))))
      val rawCanons = HtmlOps.htmlOutlinks(pages,
          baseHostCol = Some("fetch_host"))
        .filter(!col("blocked") && col("host") =!= "")
        .select(HtmlOps.canonicalUrl(col("url")))
        .collect().map(_.getString(0)).toSet
      val dropped = rawCanons.intersect(stored)
      assert(dropped.nonEmpty, "fixture lost its planted overlap leg")
      assert(dropped.contains("w3.s3.example/p/3"))
      // politeness: at most k slots per domain, contiguously numbered
      val byDomain = rows.groupBy(_.getString(2))
      byDomain.foreach { case (_, g) =>
        assert(g.length <= 10)
        assert(g.map(_.getInt(5)).sorted.toSeq === (1 to g.length))
      }
      // blocked domains never surface on the frontier
      assert(!byDomain.keySet.exists(
        Set("s2.example", "s5.example", "s11.example")))
      // CLOSING THE LOOP: fetch wave after wave (ingesting each
      // wave's urls as the next batch). Every wave must be disjoint
      // from everything already fetched — the politeness cap only
      // DELAYS candidates, it never recycles them — and the frontier
      // must drain to EMPTY in finitely many waves.
      import spark.implicits._
      var fetched = Set.empty[String]
      var waveNo = 0
      var current = rows
      while (current.nonEmpty && waveNo < 50) {
        val canons = current.map(_.getString(0)).toSet
        assert(canons.intersect(fetched).isEmpty,
          s"wave $waveNo refetched an already-fetched key")
        fetched ++= canons
        val wave = current.zipWithIndex.map { case (r, i) =>
          (1000000L + waveNo * 1000L + i, r.getString(1)) }
          .toSeq.toDF("doc_id", "url")
        HtmlOps.appendUrlKeys(wave, scope, "keys")
        waveNo += 1
        current = HtmlOps.crawlFrontier(pages, scope, "keys", ranks)
          .collect()
      }
      assert(current.isEmpty, s"frontier not drained after $waveNo waves")
      assert(waveNo > 1, "fixture too small to exercise the cap delay")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  private val crlf = "\r\n"

  private def warcChunks(rows: (Long, String)*) =
    rows.toDF("doc_id", "warc")

  private def responseRec(uri: String, payload: String,
                          declared: Option[Long] = None): String =
    s"WARC/1.0${crlf}WARC-Type: response${crlf}" +
      s"WARC-Target-URI: $uri${crlf}WARC-Date: 2026-01-01T00:00:00Z$crlf" +
      s"Content-Length: ${declared.getOrElse(payload.getBytes("UTF-8").length.toLong)}" +
      s"$crlf$crlf$payload$crlf$crlf"

  private val requestRec =
    s"WARC/1.0${crlf}WARC-Type: request${crlf}" +
      s"WARC-Target-URI: https://a.example/$crlf" +
      s"Content-Length: 0$crlf$crlf$crlf"

  test("warcIngest is record-order independent") {
    val resp = responseRec("https://a.example/", "<body>hi</body>")
    val out = HtmlOps.warcIngest(warcChunks(
        1L -> (requestRec + resp), 2L -> (resp + requestRec)))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_records"), r.getAs[String]("target_uri"),
          r.getAs[Boolean]("length_ok"), r.getAs[String]("text_clean"))))
      .toMap
    // the response is picked by its TYPE HEADER, never by position:
    // both orderings parse identically
    assert(out(1L) === out(2L))
    assert(out(1L) === ((2L, "https://a.example/", true, "hi")))
  }

  test("httpFrame: status/mime/body split; non-HTTP payloads pass through whole") {
    val html = "<body>ok</body>"
    val msg = s"HTTP/1.1 200 OK${crlf}Content-Type: text/html; " +
      s"charset=utf-8$crlf$crlf$html"
    val rows = HtmlOps.warcIngest(warcChunks(
      1L -> responseRec("https://a.example/", msg),
      // 404: framed fine, gated out
      2L -> responseRec("https://a.example/",
        s"HTTP/1.1 404 Not Found${crlf}Content-Type: text/html$crlf$crlf" +
          "<body>gone</body>"),
      // not HTML: gated out
      3L -> responseRec("https://a.example/",
        s"HTTP/1.1 200 OK${crlf}Content-Type: text/plain$crlf$crlf" +
          "just text"),
      // a body LINE starting with Content-Type: must not hijack the
      // header scan — the mime comes from the HEADER BLOCK only
      4L -> responseRec("https://a.example/",
        s"HTTP/1.1 200 OK${crlf}Content-Type: text/html$crlf$crlf" +
          s"<p>a</p>$crlf" + "Content-Type: text/plain"),
      // pre-HTTP archive: no status line, the whole payload is body
      5L -> responseRec("https://a.example/", "<body>old</body>")))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows(1L).getAs[Int]("http_status") === 200)
    assert(rows(1L).getAs[String]("mime") === "text/html")
    assert(rows(1L).getAs[Boolean]("http_ok"))
    assert(rows(1L).getAs[String]("text_clean") === "ok")
    assert(rows(2L).getAs[Int]("http_status") === 404)
    assert(!rows(2L).getAs[Boolean]("http_ok"))
    assert(rows(2L).getAs[Boolean]("length_ok")) // framing was fine
    assert(rows(3L).getAs[String]("mime") === "text/plain")
    assert(!rows(3L).getAs[Boolean]("http_ok"))
    assert(rows(4L).getAs[String]("mime") === "text/html")
    assert(rows(4L).getAs[Boolean]("http_ok"))
    assert(rows(5L).isNullAt(rows(5L).fieldIndex("http_status")))
    assert(!rows(5L).getAs[Boolean]("http_ok"))
    assert(rows(5L).getAs[String]("text_clean") === "old")
  }

  test("warcIngest: a chunk with no response record is a verdict, not an error") {
    val row = HtmlOps.warcIngest(warcChunks(1L -> requestRec)).head()
    assert(row.getLong(1) === 1L)           // n_records
    assert(row.isNullAt(2))                 // target_uri
    assert(row.isNullAt(4))                 // content_length
    assert(!row.getBoolean(5))              // length_ok
  }

  test("warcIngest verifies Content-Length in octets, not characters") {
    val nonAscii = "<body>résumé café</body>" // 3 two-byte chars
    assert(nonAscii.getBytes("UTF-8").length > nonAscii.length)
    val rows = HtmlOps.warcIngest(warcChunks(
        1L -> responseRec("https://a.example/", nonAscii),
        // declared = CHARACTER count: must FAIL under the octet check
        2L -> responseRec("https://a.example/", nonAscii,
          declared = Some(nonAscii.length.toLong)),
        // overdeclared by 7 (the %13==7 planted leg's shape)
        3L -> responseRec("https://a.example/", "<p>x</p>",
          declared = Some("<p>x</p>".length + 7L))))
      .collect().map(r => r.getLong(0) -> r.getBoolean(5)).toMap
    assert(rows(1L) && !rows(2L) && !rows(3L))
  }

  test("warcIngest: truncated header parses empty fields and fails length_ok") {
    val truncated = requestRec +
      s"WARC/1.0${crlf}WARC-Type: response${crlf}" +
      s"WARC-Target-URI: https://a.example/$crlf" + "WARC-Da"
    val row = HtmlOps.warcIngest(warcChunks(1L -> truncated)).head()
    assert(row.getLong(1) === 2L)                // n_records
    assert(row.getString(2) === "https://a.example/") // uri header intact
    assert(row.getString(3) === "")              // warc_date: no match
    assert(row.isNullAt(4))                      // content_length
    assert(!row.getBoolean(5))
  }

  test("fetchFunnel (q204): stages shrink monotonically and reconcile with the ingest verdicts") {
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val chunks = HtmlOps.plantedWarcCorpus(docs)
    val funnel = HtmlOps.fetchFunnel(chunks).collect()
    assert(funnel.nonEmpty)
    // the funnel invariant: each stage counts survivors of everything
    // upstream, so the columns are monotone non-increasing
    funnel.foreach { r =>
      assert(r.getAs[Long]("n_chunks") >= r.getAs[Long]("n_framed"), r)
      assert(r.getAs[Long]("n_framed") >= r.getAs[Long]("n_http_ok"), r)
      assert(r.getAs[Long]("n_http_ok") >= r.getAs[Long]("n_body_ok"), r)
      assert(r.getAs[Long]("n_body_ok") >= r.getAs[Long]("n_page_ok"), r)
    }
    // malformed chunks (no parseable target host) are VISIBLE under
    // the empty domain, with zero survivors of any stage
    val unparsed = funnel.find(_.getAs[String]("domain") == "").get
    assert(unparsed.getAs[Long]("n_chunks") > 0)
    assert(unparsed.getAs[Long]("n_framed") === 0)
    // totals reconcile with the per-row verdicts the ingest reports
    val ing = HtmlOps.warcIngest(chunks)
    assert(funnel.map(_.getAs[Long]("n_chunks")).sum === ing.count())
    assert(funnel.map(_.getAs[Long]("n_framed")).sum ===
      ing.filter(col("length_ok")).count())
    assert(funnel.map(_.getAs[Long]("n_http_ok")).sum ===
      ing.filter(col("length_ok") && col("http_ok")).count())
    // the wire-decode stage: the malformed-chunk leg (%13==12) dies
    // HERE — 200 text/html but an unreversible body
    assert(funnel.map(_.getAs[Long]("n_body_ok")).sum ===
      ing.filter(col("length_ok") && col("http_ok") && col("body_ok"))
        .count())
    assert(funnel.map(_.getAs[Long]("n_http_ok")).sum >
      funnel.map(_.getAs[Long]("n_body_ok")).sum)
    // ... and the page stage equals crawlIngest's verdict over the
    // gated bodies (the warc-corpus page source)
    val pageOk = HtmlOps.crawlIngest(
        HtmlOps.httpFrame(HtmlOps.warcFrame(chunks, "warc"))
          .filter(col("length_ok") && col("http_ok") && col("body_ok"))
          .select(col("doc_id"),
            HtmlOps.hostOf(col("target_uri")).as("fetch_host"),
            col("body").as("html")),
        baseHostCol = Some("fetch_host"))
      .filter(col("page_ok")).count()
    assert(funnel.map(_.getAs[Long]("n_page_ok")).sum === pageOk)
  }

  test("plantedWarcCorpus malformed legs flow through warcIngest as verdicts") {
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val out = HtmlOps.warcIngest(HtmlOps.plantedWarcCorpus(docs))
      .withColumn("m", col("doc_id") % 13)
    // well-formed legs (incl. the non-ASCII %13==1 leg) pass; every
    // malformed leg fails length_ok — never throws
    assert(out.filter(!col("m").isin(3, 7, 11) && !col("length_ok"))
      .count() === 0)
    assert(out.filter(col("m").isin(3, 7, 11) && col("length_ok"))
      .count() === 0)
    assert(out.filter(col("m") === 1).count() > 0)
    // the octet leg is REAL: the %13==1 payload's octet count exceeds
    // its character count, and the declared length matches the OCTETS
    // (a character-counting check would fail this leg)
    val one = HtmlOps.warcFrame(HtmlOps.plantedWarcCorpus(docs), "warc")
      .filter(col("doc_id") % 13 === 1)
      .select(octet_length(col("payload")).cast("long"),
        length(col("payload")).cast("long"), col("content_length")).head()
    assert(one.getLong(0) > one.getLong(1))
    assert(one.getLong(0) === one.getLong(2))
    // missing-response: headers null; truncated: date empty, length null
    assert(out.filter(col("m") === 3 && col("target_uri").isNotNull)
      .count() === 0)
    assert(out.filter(col("m") === 11 &&
      (col("warc_date") =!= "" || col("content_length").isNotNull))
      .count() === 0)
    // the HTTP legs: 404s and non-HTML fail http_ok (and ONLY they do,
    // among the well-framed); the malformed WARC legs parse no status
    assert(out.filter(col("m") === 2 &&
      (col("http_status") =!= 404 || col("http_ok"))).count() === 0)
    assert(out.filter(col("m") === 5 &&
      (col("mime") =!= "text/plain" || col("http_ok"))).count() === 0)
    assert(out.filter(!col("m").isin(2, 3, 5, 8, 11) && !col("http_ok"))
      .count() === 0)
    assert(out.filter(col("m").isin(3, 11) && col("http_status").isNotNull)
      .count() === 0)
    // the charset legs: the SAME characters arrive as UTF-8 bytes
    // (%13==1, mojibake chars C3 A9) and as latin-1 bytes (%13==9,
    // single byte E9/E7) — the decode seam reconstructs both per the
    // DECLARED charset, so neither shows mojibake downstream
    assert(out.filter(col("m") === 1 &&
      !col("text_clean").contains("résumé café")).count() === 0)
    assert(out.filter(col("m") === 9 &&
      (col("charset") =!= "iso-8859-1" ||
        !col("text_clean").contains("café français"))).count() === 0)
    assert(out.filter(col("text_clean").contains("Ã©")).count() === 0)
    assert(out.filter(col("m") === 1 && col("charset") =!= "utf-8")
      .count() === 0)
    // the 301 leg: not a page (http_ok false), but its Location is
    // the fetch's OUTCOME — extracted, never lost; every non-3xx leg
    // carries none
    assert(out.filter(col("m") === 8 &&
      (col("http_status") =!= 301 || col("http_ok") ||
        col("redirect_to") === "")).count() === 0)
    assert(out.filter(col("m") =!= 8 && col("redirect_to") =!= "")
      .count() === 0)
    // both Location spellings resolve to the same target host+path:
    // absolute stays itself, server-relative inherits the fetch host
    val rt = HtmlOps.redirectTargets(
      HtmlOps.httpFrame(HtmlOps.warcFrame(
        HtmlOps.plantedWarcCorpus(docs), "warc")))
    assert(rt.filter(HtmlOps.canonicalUrl(
        HtmlOps.resolvedUrl(col("url"), col("host"))) =!=
      concat(lit("w"), col("doc_id") % 7, lit(".s"), col("doc_id") % 5,
        lit(".example/r/"), col("doc_id") % 11)).count() === 0)
    assert(rt.count() === out.filter(col("m") === 8).count())
  }

  test("artifact compaction (q209): file counts drop to the layout floor, rows and bucketing intact") {
    val base = java.nio.file.Files.createTempDirectory("graft-compact-spec-")
    try {
      val sc = graft.core.Scopes.create(spark, base.toString)
      val docs = graft.io.Tables.parquet(spark, sf, "documents")
      val log = HtmlOps.plantedFetchLog(docs)
      HtmlOps.saveFetchLog(log.filter(col("log_id") < 1000L)
        .select("url", "fetched_at_s"), sc, "fl")
      // several waves accumulate task files in the touched partitions
      HtmlOps.appendFetchLog(log.filter(col("log_id") >= 1000L)
        .select("url", "fetched_at_s"), sc, "fl")
      HtmlOps.appendFetchLog(log.filter(col("log_id") >= 1000L)
        .select(col("url"), (col("fetched_at_s") + 86400L)
          .as("fetched_at_s")), sc, "fl")
      def nFiles(): Int = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
        walk(new java.io.File(Artifact.read(spark, sc, "fl").table("rows")))
          .count(_.getName.endsWith(".parquet"))
      }
      def rows() = HtmlOps.loadFetchLog(spark, sc, "fl")
        .collect().map(_.toString).sorted.toSeq
      val filesBefore = nFiles()
      val rowsBefore = rows()
      HtmlOps.compactFetchLog(spark, sc, "fl")
      // the log's upserts REPLACE whole partitions, so its count sits
      // near the layout floor already — compaction must not regress
      // it, and rows are identical
      assert(nFiles() <= filesBefore, s"$filesBefore -> ${nFiles()}")
      assert(rows() === rowsBefore)
      // the catalog bucketing survives: a post-compaction upsert and
      // due-scan still run (and the merge still reads bucketed)
      val upserted = HtmlOps.appendFetchLog(
        log.filter(col("log_id") >= 1000L)
          .select(col("url"), (col("fetched_at_s") + 2L * 86400L)
            .as("fetched_at_s")), sc, "fl")
      assert(upserted.count() > 0)
      assert(HtmlOps.refetchWaveFromLog(spark, sc, "fl",
        nowS = 1767225600L + 9L * 86400L, ttlS = 86400L,
        ranks = emptyRanks).count() > 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("retryGatedFrontier (q211): fresh attempts defer, aged-out attempts compete again") {
    val base = java.nio.file.Files.createTempDirectory("graft-retry-spec-")
    try {
      val sc = graft.core.Scopes.create(spark, base.toString)
      val docs = graft.io.Tables.parquet(spark, sf, "documents")
      val chunks = HtmlOps.plantedWarcCorpus(docs)
      val framed = HtmlOps.httpFrame(HtmlOps.warcFrame(chunks, "warc"))
      HtmlOps.saveUrlKeys(
        framed.filter(col("length_ok") && col("http_ok") &&
          col("doc_id") < 250)
          .select(col("doc_id"), col("target_uri").as("url")),
        sc, "keys")
      val ranks = graft.ops.GraphOps.domainRank(HtmlOps.domainEdges(
        HtmlOps.plantedHtmlCorpus(docs)))
      val rules = HtmlOps.plantedRobotsRules(spark)
      val t0 = 1767225600L
      val ttl = 86400L
      // ONE materialized wave feeds both the assertions and the
      // attempt log — an uncached second build would re-run the whole
      // frame+gate+anti-join pipeline
      val wave0Df = HtmlOps.redirectFrontier(chunks, sc, "keys", ranks,
        rules).localCheckpoint(eager = true)
      val wave0 = wave0Df.collect()
      HtmlOps.saveFetchLog(
        wave0Df.select(col("url"),
          when(col("slot") % 2 === 0, lit(t0))
            .otherwise(lit(t0 - 2L * ttl)).as("fetched_at_s")),
        sc, "attempts")
      val freshCanons = wave0.filter(_.getAs[Int]("slot") % 2 == 0)
        .map(_.getAs[String]("canon")).toSet
      val staleCanons = wave0.filter(_.getAs[Int]("slot") % 2 == 1)
        .map(_.getAs[String]("canon")).toSet
      val gated = HtmlOps.retryGatedFrontier(chunks, sc, "keys",
        "attempts", nowS = t0 + 3600L, retryTtlS = ttl, ranks, rules)
        .collect().map(_.getAs[String]("canon")).toSet
      // just-attempted canons defer; aged-out ones compete — and win
      // again (they topped the ungated wave on the same ordering)
      assert(freshCanons.nonEmpty && staleCanons.nonEmpty)
      assert(gated.intersect(freshCanons).isEmpty)
      assert(gated.intersect(staleCanons).nonEmpty)
      // a TTL spanning every attempt defers the whole previous wave
      val allGated = HtmlOps.retryGatedFrontier(chunks, sc, "keys",
        "attempts", nowS = t0 + 3600L, retryTtlS = 10L * ttl, ranks,
        rules).collect().map(_.getAs[String]("canon")).toSet
      assert(allGated.intersect(freshCanons ++ staleCanons).isEmpty)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("gzip front door (q206): multi-member inflate is bit-identical; corrupt bytes are a verdict") {
    import spark.implicits._
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val gz = HtmlOps.plantedGzipWarcCorpus(docs)
    // the fixture is REALLY per-record multi-member gzip: each chunk
    // carries one 0x1f8b member header per WARC record
    val plain = HtmlOps.plantedWarcCorpus(docs)
      .select(col("doc_id"), col("warc"))
    val memberCounts = gz.as[(Long, Array[Byte])].map { case (id, b) =>
      val n = b.sliding(3).count(w =>
        w(0) == 0x1f.toByte && w(1) == 0x8b.toByte && w(2) == 0x08.toByte)
      (id, n)
    }.toDF("doc_id", "n_members")
    val recCounts = plain.select(col("doc_id"),
      size(split(col("warc"), "WARC/1\\.0\r\n")).minus(1).as("n_recs"))
    assert(memberCounts.join(recCounts, "doc_id")
      .filter(col("n_members") =!= col("n_recs")).count() === 0)
    assert(memberCounts.filter(col("n_members") >= 2).count() > 0)
    // decompress-then-frame ≡ frame (bit-identical round trip)
    val viaGz = HtmlOps.gunzipWarcChunks(gz)
    assert(viaGz.join(plain.withColumnRenamed("warc", "warc0"), "doc_id")
      .filter(col("warc") =!= col("warc0")).count() === 0)
    // corrupt bytes (truncated member) inflate to the EMPTY chunk:
    // framing yields verdicts, never an exception
    val corrupt = gz.as[(Long, Array[Byte])]
      .map { case (id, b) => (id, b.dropRight(6)) }
      .toDF("doc_id", "warc_gz")
    val framed = HtmlOps.warcIngest(HtmlOps.gunzipWarcChunks(corrupt))
    assert(framed.filter(col("length_ok")).count() === 0)
    assert(framed.count() === plain.count())
    // NOT-gzip-at-all (and empty) bytes are also a verdict, not a
    // task failure — the constructor itself rejects them
    val notGzip = Seq(
      (1L, "WARC/1.0 plain text".getBytes("ISO-8859-1")),
      (2L, Array.empty[Byte]),
      (3L, null.asInstanceOf[Array[Byte]]))
      .toDF("doc_id", "warc_gz")
    assert(HtmlOps.gunzipWarcChunks(notGzip)
      .filter(col("warc") =!= "").count() === 0)
    // a corrupt NON-FIRST member header: the JDK swallows it and
    // reports clean end-of-stream — the seam must detect the
    // undigested bytes and refuse partial salvage
    val midCorrupt = gz.as[(Long, Array[Byte])]
      .map { case (id, b) =>
        // flip the SECOND member's magic (find the second 1f 8b 08)
        val idxs = (0 until b.length - 2).filter(i =>
          b(i) == 0x1f.toByte && b(i + 1) == 0x8b.toByte &&
            b(i + 2) == 0x08.toByte)
        if (idxs.length >= 2) { val c = b.clone(); c(idxs(1)) = 0x00; (id, c) }
        else (id, b)
      }.toDF("doc_id", "warc_gz")
    val salvaged = HtmlOps.gunzipWarcChunks(midCorrupt)
      .join(memberCounts, "doc_id")
      .filter(col("n_members") >= 2 && col("warc") =!= "")
    assert(salvaged.count() === 0, "partial salvage of a corrupt member")
  }

  test("conditional refetch (q213): 304 refreshes clock+validator with ZERO content writes; 200 rewrites") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-reval-spec-")
    try {
      val sc = graft.core.Scopes.create(spark, base.toString)
      val docs = graft.io.Tables.parquet(spark, sf, "documents").limit(100)
      val t0 = 1767225600L
      val t1 = t0 + 7L * 86400L
      val framed1 = HtmlOps.httpFrame(HtmlOps.warcFrame(
          HtmlOps.plantedWarcCorpus(docs), "warc"))
        .filter(col("length_ok") && col("http_ok") && col("body_ok"))
      HtmlOps.saveFetchLog(
        framed1.select(col("target_uri").as("url"),
          lit(t0).as("fetched_at_s"), col("etag"), col("last_modified")),
        sc, "flog")
      HtmlOps.appendContentVersions(
        framed1.select(HtmlOps.canonicalUrl(col("target_uri")).as("canon"),
          col("body"), lit(t0).as("content_fetch_s")),
        sc.path("content"))
      // the seeded log CARRIES a validator the dispatcher can send:
      // the ETag, or (the %10==4 ETag-less legs) the Last-Modified
      // date alone
      val log0 = HtmlOps.loadFetchLog(spark, sc, "flog")
      assert(log0.filter(col("etag").rlike("^\"v[0-9]\"$") ||
        (col("etag") === "" && col("last_modified") =!= "")).count() ===
        log0.count())
      assert(log0.filter(col("etag") === "").count() > 0)
      // ...and the refetch wave ships it (If-None-Match)
      val wave = HtmlOps.refetchWaveFromLog(spark, sc, "flog",
        nowS = t1, ttlS = 86400L, ranks = Seq(("s0.example", 1L))
          .toDF("domain", "pr"))
      assert(wave.columns.contains("etag"))
      assert(wave.columns.contains("last_modified"))
      // every due key ships SOME validator (If-None-Match or
      // If-Modified-Since)
      assert(wave.filter(col("etag") === "" &&
        col("last_modified") === "").count() === 0)
      val nFiles0 = org.apache.commons.io.FileUtils
        .listFiles(new java.io.File(sc.path("content")),
          Array("parquet"), true).size
      // the revalidation wave: 304s (even) + 200 rewrites (odd)
      val framed2 = HtmlOps.httpFrame(HtmlOps.warcFrame(
        HtmlOps.plantedRevalidationCorpus(docs), "warc"))
      // a 304 parses: status, validator, EMPTY body, body_ok
      val f304 = framed2.filter(col("http_status") === 304)
      assert(f304.count() > 0)
      assert(f304.filter(!col("length_ok") || !col("body_ok") ||
        col("body") =!= "" ||
        !(col("etag").rlike("^\"v[0-9]\"$") ||
          (col("etag") === "" && col("last_modified") =!= "")))
        .count() === 0)
      // the Last-Modified-only 304s exist AND take the refresh path
      assert(f304.filter(col("etag") === "" &&
        col("last_modified") =!= "").count() > 0)
      val outcomes = HtmlOps.revalidationOutcomes(framed2, lit(t1))
      val mod = HtmlOps.applyRevalidation(outcomes, sc, "flog",
        sc.path("content"))
      // ONLY modified (200) rows wrote content versions
      assert(mod.count() ===
        outcomes.filter(!col("not_modified")).count())
      // every completed outcome refreshed the clock
      val log1 = HtmlOps.loadFetchLog(spark, sc, "flog")
      assert(log1.filter(col("last_fetch_s") =!= t1).count() === 0)
      // 304-only canons keep wave-1 content BIT-identically and the
      // appended version count is exactly the 200 set
      val nFiles1 = org.apache.commons.io.FileUtils
        .listFiles(new java.io.File(sc.path("content")),
          Array("parquet"), true).size
      assert(nFiles1 > nFiles0) // the 200 appends landed...
      val latest = HtmlOps.latestContent(spark, sc.path("content"))
      val w1Bodies = framed1
        .select(HtmlOps.canonicalUrl(col("target_uri")).as("canon"),
          col("body"))
        .groupBy(col("canon"))
        .agg(max(struct(lit(t0).as("content_fetch_s"), col("body")))
          .as("m"))
        .select(col("canon"), col("m.body").as("b1"))
      val onlyEvenCanons = framed2
        .select(HtmlOps.canonicalUrl(col("target_uri")).as("canon"),
          (col("http_status") === 304).as("is304"))
        .groupBy("canon").agg(min(col("is304")).as("all304"))
        .filter(col("all304"))
      val kept = latest.join(onlyEvenCanons, "canon")
        .join(w1Bodies, "canon")
      assert(kept.count() > 0)
      assert(kept.filter(col("body") =!= col("b1")).count() === 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("pruneWaveStates (q209): superseded wave dirs drop, the latest fold survives, restart-safe") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-prune-spec-")
    try {
      val dir = base.resolve("schedstate").toString
      (0L to 3L).foreach { w =>
        HtmlOps.saveWaveState(
          Seq(("s0.example", 10L * (w + 1)), ("s1.example", 7L))
            .toDF("domain", "next_allowed_s"), dir, w)
      }
      assert(HtmlOps.pruneWaveStates(spark, dir) ===
        Seq(0L, 1L, 2L))
      // only wave=3 remains on disk
      val left = new java.io.File(dir).listFiles()
        .map(_.getName).filter(_.startsWith("wave=")).toSeq
      assert(left === Seq("wave=3"))
      // a RESTARTED loop (next batch id 4) reads the surviving fold —
      // wave 3's state already folds waves 0-2, so nothing is lost
      val st = HtmlOps.loadSchedState(spark, dir, beforeWave = 4L)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(st === Map("s0.example" -> 40L, "s1.example" -> 7L))
      // idempotent: pruning again drops nothing
      assert(HtmlOps.pruneWaveStates(spark, dir).isEmpty)
      // a missing dir is a no-op, not an error
      assert(HtmlOps.pruneWaveStates(spark,
        base.resolve("absent").toString).isEmpty)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("pruneWaveStates fails naming the path when the file system does not delete it") {
    val base = java.nio.file.Files.createTempDirectory("graft-prune-nodelete-")
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.nodelete.impl", classOf[HtmlOpsSpec.NoDeleteFileSystem].getName)
    conf.setBoolean("fs.nodelete.impl.disable.cache", true)
    try {
      (0 to 2).foreach(w => base.resolve(s"wave=$w").toFile.mkdirs())
      val e = intercept[graft.core.GraftException] {
        HtmlOps.pruneWaveStates(spark, s"nodelete://$base")
      }
      assert(e.getMessage.contains(s"$base/wave=0"), e.getMessage)
      assert(base.toFile.list().sorted.toSeq === Seq("wave=0", "wave=1", "wave=2"))
    } finally {
      conf.unset("fs.nodelete.impl")
      conf.unset("fs.nodelete.impl.disable.cache")
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("urlTrapped (q216): length cap and repeated-segment verdicts; frontier candidates gated") {
    import spark.implicits._
    val rows = Seq(
      ("https://h.example/t/t/t/t/t/t/x", true), // 5 dups > 3
      ("https://h.example/a/b/a/c", false), // one repeat: legitimate
      ("https://h.example/" + "a/" * 4 + "b/" * 2, true), // 3+1 dups > 3
      ("https://h.example/" + "a/" * 3 + "b/" * 2, false), // 2+1 = 3: kept
      ("https://h.example/" + ("a" * 2101), true), // too long
      ("https://h.example/p/3", false))
    val got = rows.map(_._1).toDF("url")
      .select(HtmlOps.urlTrapped(col("url"))).as[Boolean].collect()
    rows.map(_._2).zip(got).foreach { case (want, g) =>
      assert(g === want, rows)
    }
  }

  test("removeDotSegments: RFC 3986 §5.2.4 on the bounded fix-point") {
    import spark.implicits._
    val cases = Seq(
      "/a/b/../c" -> "/a/c",
      "/a/./b" -> "/a/b",
      "/../a" -> "/a",
      "/a/.." -> "/",
      "/a/b/../../c" -> "/c",
      "/a/b/c/../../../x" -> "/x",
      "/p/../u/4" -> "/u/4",
      "/a/." -> "/a/",
      "/././x" -> "/x",
      "/../../y" -> "/y",
      // dotfiles and '...' are ORDINARY segments, not dot-segments
      "/.well-known/x" -> "/.well-known/x",
      "/.../x" -> "/.../x",
      "/a/.hidden/../b" -> "/a/b",
      // clean paths take the guarded fast path untouched
      "/p/3" -> "/p/3",
      "" -> "")
    val out = cases.map(_._1).toDF("p")
      .select(HtmlOps.removeDotSegments(col("p"))).as[String].collect()
    cases.map(_._2).zip(out).foreach { case (want, got) =>
      assert(got === want, cases)
    }
  }

  test("resolvedUrl: RFC 3986 §5.2 merge against the page's real path") {
    import spark.implicits._
    val rows = Seq(
      // (href, basePath, expected)
      ("d.html", "/p/3", "//h.example/p/d.html"), // page-relative merges
      ("../u/4", "/p/3", "//h.example/u/4"), // dot segments climb
      ("../../deep", "/a/b/c", "//h.example/deep"),
      ("/abs/../x", "/p/3", "//h.example/x"), // server-relative normalizes
      ("?q=1", "/p/3", "//h.example/p/3?q=1"), // query-only keeps the path
      ("#sec", "/p/3", "//h.example/p/3"), // fragment-only IS the base
      ("d.html", "", "//h.example/d.html"), // no base path: root merge
      ("https://o.example/z", "/p/3", "https://o.example/z"), // authority
      ("//o.example/z", "/p/3", "//o.example/z"))
    val out = rows.toDF("u", "bp", "want")
      .select(HtmlOps.resolvedUrl(col("u"), lit("h.example"),
        col("bp")).as("got"), col("want"))
      .collect()
    out.foreach(r => assert(r.getString(0) === r.getString(1), r))
    // the two-arg form is the three-arg form at root
    val two = Seq("d.html").toDF("u")
      .select(HtmlOps.resolvedUrl(col("u"), lit("h.example")))
      .as[String].head()
    assert(two === "//h.example/d.html")
  }

  test("canonicalUrl: dot-segment spellings share one canon (q12/q174 key contract)") {
    import spark.implicits._
    val pairs = Seq(
      ("https://h.example/a/../b", "https://h.example/b"),
      ("https://WWW.H.example:443/x/../p/3/", "https://h.example/p/3"),
      ("//h.example/p/./q", "https://h.example/p/q"))
    pairs.foreach { case (a, b) =>
      val got = Seq((a, b)).toDF("a", "b")
        .select(HtmlOps.canonicalUrl(col("a")),
          HtmlOps.canonicalUrl(col("b"))).head()
      assert(got.getString(0) === got.getString(1), (a, b))
    }
    // the planted %9==4 dirty-URL leg collapses onto its plain twin
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val dirty = HtmlOps.plantedDirtyUrlCorpus(docs)
    val withDots = dirty.filter(col("url").contains("/x/.."))
    assert(withDots.count() > 0)
    assert(withDots.filter(
      HtmlOps.canonicalUrl(col("url")).contains("/x")).count() === 0)
  }

  test("robotsFetches: any case-exact /robots.txt 200 updates the policy, regardless of mime") {
    import spark.implicits._
    def framedOf(chunk: String) = HtmlOps.httpFrame(HtmlOps.warcFrame(
      Seq((1L, chunk)).toDF("doc_id", "warc"), "warc"))
    val good = HtmlOps.robotsWarcChunk("s3.example",
      "User-agent: *\nDisallow: /x\n")
    assert(HtmlOps.robotsFetches(framedOf(good)).count() === 1)
    // an ordinary page at /ROBOTS.TXT is NOT the robots file (paths
    // are case-sensitive) and must never hijack the domain's policy
    val hijack = good.replace("/robots.txt", "/ROBOTS.TXT")
    assert(HtmlOps.robotsFetches(framedOf(hijack)).count() === 0)
    // the media type is NOT a gate (RFC 9309 does not condition on
    // Content-Type, and real robots ship as text/html or
    // octet-stream all the time — round-13 ADVICE): a length-correct
    // response at the exact path updates the policy whatever it
    // claims to be. 'text/htmpl' keeps the payload length identical
    // to the chunk's declared Content-Length.
    val wrongMime = good.replace("Content-Type: text/plain",
      "Content-Type: text/htmpl")
    assert(HtmlOps.robotsFetches(framedOf(wrongMime)).count() === 1)
    // ...but an octet-LYING response (truncated body) still drops:
    // policy updates ride only verified fetches
    val truncated = good.substring(0, good.length - 12)
    assert(HtmlOps.robotsFetches(framedOf(truncated)).count() === 0)
  }

  test("redirectFrontier (q205): redirect targets win slots only through their channel") {
    val base = java.nio.file.Files.createTempDirectory("graft-redirect-spec-")
    try {
      val sc = graft.core.Scopes.create(spark, base.toString)
      val docs = graft.io.Tables.parquet(spark, sf, "documents")
      val chunks = HtmlOps.plantedWarcCorpus(docs)
      val framed = HtmlOps.httpFrame(HtmlOps.warcFrame(chunks, "warc"))
      // the mature-crawl key set: valid fetches AND everything they
      // link — the outlink channel is exhausted, so discovery can
      // come only from redirects
      val validPages = framed.filter(col("length_ok") && col("http_ok") &&
        col("body_ok"))
      // the seed resolves links EXACTLY like the frontier channel —
      // base-path merge + dot removal — or the m0 relative legs would
      // leave the outlink channel un-exhausted
      val linked = HtmlOps.htmlOutlinks(
          validPages.select(col("doc_id"),
            HtmlOps.hostOf(col("target_uri")).as("fetch_host"),
            HtmlOps.urlPath(col("target_uri")).as("base_path"),
            col("body").as("html")),
          baseHostCol = Some("fetch_host"), keep = Seq("base_path"))
        .filter(col("host") =!= "")
        .select(col("doc_id"),
          HtmlOps.resolvedUrl(col("url"), col("host"), col("base_path"))
            .as("url"))
      HtmlOps.saveUrlKeys(
        validPages.select(col("doc_id"), col("target_uri").as("url"))
          .unionByName(linked),
        sc, "keys")
      val ranks = graft.ops.GraphOps.domainRank(HtmlOps.domainEdges(
        HtmlOps.plantedHtmlCorpus(docs)))
      val rules = HtmlOps.plantedRobotsRules(spark)
      val wave = HtmlOps.redirectFrontier(chunks, sc, "keys", ranks, rules)
        .collect()
      // the w*.s*.example/r/ targets — linked by NOTHING (the planted
      // outlink /r/ paths live on x*.example hosts) — reach wave slots
      def isRedirCanon(c: String) =
        c.matches("""w[0-9]+\.s[0-9]+\.example/r/[0-9]+""")
      assert(wave.exists(r => isRedirCanon(r.getAs[String]("canon"))))
      // ...and only the redirect channel can surface anything at all
      // here: the same frontier over the valid pages alone, which
      // carry no Location, is EMPTY (every linked URL is already in
      // the key set) — without redirect discovery this crawl has
      // stalled
      val outlinkOnly = HtmlOps.redirectFrontierFramed(
        validPages.filter(col("redirect_to") === ""), sc, "keys", ranks,
        rules).collect()
      assert(outlinkOnly.isEmpty)
      // every wave row IS a redirect target
      assert(wave.nonEmpty &&
        wave.forall(r => isRedirCanon(r.getAs[String]("canon"))))
      // no side door: a redirect into a disallow-everything domain
      // (k%4==1 publishes 'Disallow: /') never wins a slot
      assert(!wave.exists(r => isRedirCanon(r.getAs[String]("canon")) &&
        Set("s1.example", "s5.example", "s9.example")
          .contains(r.getAs[String]("domain"))))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }
}

object HtmlOpsSpec {
  /** The local file system under the `nodelete` scheme, whose `delete`
    * reports failure and removes nothing.
    */
  final class NoDeleteFileSystem extends org.apache.hadoop.fs.LocalFileSystem(
      new org.apache.hadoop.fs.RawLocalFileSystem {
        override def getUri: java.net.URI = java.net.URI.create("nodelete:///")
      }) {
    override def getScheme: String = "nodelete"
    override def delete(p: org.apache.hadoop.fs.Path, recursive: Boolean): Boolean = false
  }
}
