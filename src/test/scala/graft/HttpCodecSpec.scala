package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.HttpCodec
import graft.functions.HttpFunctions.{deflateTransport, gzipTransport, httpFrame, inflateBody, zstdTransport}
import graft.ops.HtmlOps

/** The wire-codec layer behind the crawl front door: RFC 9112 §7.1
  * chunked decoding (length-driven, extension/trailer tolerant,
  * truncation = null verdict), RFC 1952 multi-member gzip with
  * structural CRC/ISIZE verification, and Content-Encoding reversal —
  * plus the httpFrame seam wiring (decode order, body_ok verdict,
  * quoted charset, legacy-charset fallback).
  */
class HttpCodecSpec extends SparkSpec {
  import spark.implicits._

  private def dechunk(s: String): String = HttpCodec.dechunkString(s)

  test("dechunk: length-driven decoding survives hex-looking lines in chunk data") {
    // chunk data contains "1A\r\n" — a line-sniffing de-chunker would
    // misread it as a size line; the declared lengths say otherwise
    val data1 = "abc\r\n1A\r\nxyz" // 12 chars
    val msg = "c\r\n" + data1 + "\r\n" + "3\r\n" + "def" + "\r\n0\r\n\r\n"
    assert(dechunk(msg) === data1 + "def")
  }

  test("dechunk: chunk extensions are skipped, either hex case accepted") {
    val msg = "A;name=\"v\"\r\n0123456789\r\n" + "a\r\nabcdefghij\r\n0\r\n\r\n"
    assert(dechunk(msg) === "0123456789abcdefghij")
  }

  test("dechunk: trailer fields after the zero chunk are skipped") {
    val msg = "5\r\nhello\r\n0\r\nX-Checksum: abc\r\nX-Other: 1\r\n\r\n"
    assert(dechunk(msg) === "hello")
  }

  test("dechunk: epilogue tolerance — warcFrame's trailing-CRLF strip") {
    // the record-framing strip eats trailing CRLFs; end-of-input is
    // legal anywhere in the epilogue (after the terminal size line)
    assert(dechunk("5\r\nhello\r\n0") === "hello")
    assert(dechunk("5\r\nhello\r\n0\r\n") === "hello")
    assert(dechunk("5\r\nhello\r\n0\r\nX-Tr: 1") === "hello")
  }

  test("dechunk: truncated data and malformed sizes are null verdicts") {
    assert(dechunk("10\r\nshort") === null) // declares 16, has 5
    assert(dechunk("5\r\nhello") === null) // data with no terminal chunk
    assert(dechunk("zz\r\nhello\r\n0") === null) // not hex
    assert(dechunk("\r\nhello") === null) // no size at all
    assert(dechunk("5 \r\nhello\r\n0") === null) // junk after size
    assert(dechunk("5\r\nhelloXX0\r\n\r\n") === null) // missing data CRLF
    assert(dechunk("") === null) // no terminal chunk
  }

  test("inflateMembers: multi-member round trip and structural verification") {
    def gz(s: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(s.getBytes("ISO-8859-1")); g.close()
      bos.toByteArray
    }
    val a = gz("record one\r\n")
    val b = gz("record two\r\n")
    assert(new String(HttpCodec.inflateMembers(a ++ b), "ISO-8859-1") ===
      "record one\r\nrecord two\r\n")
    // empty input is the empty chunk, not a verdict
    assert(HttpCodec.inflateMembers(Array.emptyByteArray).length === 0)
    // truncated FINAL member — including one shorter than the JDK's
    // 26-byte readahead (the round-13 ADVICE case the residue
    // heuristic read as clean): structural walk rejects both
    assert(HttpCodec.inflateMembers(a ++ b.take(b.length - 1)) === null)
    assert(HttpCodec.inflateMembers(a ++ b.take(12)) === null)
    // corrupt mid-stream header
    val mid = a ++ Array[Byte](0x1f.toByte, 0x00.toByte) ++ b
    assert(HttpCodec.inflateMembers(mid) === null)
    // a LYING trailer: flip a CRC byte
    val bad = (a ++ b).clone()
    bad(a.length + b.length - 5) = (bad(a.length + b.length - 5) ^ 0x7).toByte
    assert(HttpCodec.inflateMembers(bad) === null)
    // not gzip at all
    assert(HttpCodec.inflateMembers("WARC/1.0".getBytes("ISO-8859-1")) === null)
    // FNAME/FCOMMENT/FEXTRA optional header fields parse per RFC 1952
    val withName = {
      val bos = new java.io.ByteArrayOutputStream()
      val raw = gz("named")
      // splice an FNAME field in: set FLG bit 3 and insert the name
      bos.write(raw, 0, 3); bos.write(8); bos.write(raw, 4, 6)
      bos.write("file.txt".getBytes("ISO-8859-1")); bos.write(0)
      bos.write(raw, 10, raw.length - 10)
      bos.toByteArray
    }
    assert(new String(HttpCodec.inflateMembers(withName), "ISO-8859-1") ===
      "named")
  }

  test("inflate_body: gzip, deflate (both wrappings), identity, unknown") {
    val plain = "hello <b>body</b> with bytes"
    val rows = Seq(plain).toDF("p")
      .withColumn("g", gzipTransport(col("p")))
      .withColumn("d", deflateTransport(col("p")))
      .select(
        inflateBody(col("g"), lit("gzip")).as("ig"),
        inflateBody(col("g"), lit("x-gzip")).as("ixg"),
        inflateBody(col("d"), lit("deflate")).as("id"),
        inflateBody(col("p"), lit("")).as("ii"),
        inflateBody(col("p"), lit("identity")).as("iid"),
        inflateBody(col("p"), lit("br")).as("ibr"),
        inflateBody(col("p"), lit("gzip")).as("inot"))
      .head()
    assert(rows.getString(0) === plain)
    assert(rows.getString(1) === plain)
    assert(rows.getString(2) === plain)
    assert(rows.getString(3) === plain)
    assert(rows.getString(4) === plain)
    assert(rows.isNullAt(5)) // undecodable coding: verdict
    assert(rows.isNullAt(6)) // declared gzip, plain bytes: verdict
    // bare (zlib-less) deflate — what real servers ship under the
    // 'deflate' token — also inflates
    val raw = {
      val d = new java.util.zip.Deflater(-1, true)
      d.setInput(plain.getBytes("ISO-8859-1")); d.finish()
      val buf = new Array[Byte](1024)
      val n = d.deflate(buf); d.end()
      new String(buf.take(n), "ISO-8859-1")
    }
    val r2 = Seq(raw).toDF("r")
      .select(inflateBody(col("r"), lit("deflate"))).head()
    assert(r2.getString(0) === plain)
  }

  test("an unknown Content-Encoding is the null verdict on every inflate seam") {
    val body = "brotli-shaped body bytes"
    for (enc <- Seq("br", "xz", "lz4")) {
      assert(HttpCodec.inflateBodyString(body, enc) === null)
      val payload = "HTTP/1.1 200 OK\r\n" +
        "Content-Type: text/html; charset=utf-8\r\n" +
        s"Content-Encoding: $enc\r\n\r\n" + body
      val framed = Seq(payload).toDF("payload")
      val sql = framed.select(inflateBody(col("payload"), lit(enc)),
        httpFrame(col("payload")).getField("body_ok"),
        httpFrame(col("payload")).getField("body")).head()
      assert(sql.isNullAt(0))
      assert(!sql.getBoolean(1) && sql.isNullAt(2))
      val staged = HtmlOps.httpFrameStaged(framed).select("body_ok").head()
      assert(!staged.getBoolean(0))
    }
  }

  test("zstd is a built-in coding: round trip, frame verdicts, bomb guard") {
    import spark.implicits._
    val plain = "zstd body résumé café" // non-ASCII survives the transport
    // round trip at the expression layer — inflate ∘ deflate = id
    val r = Seq(plain).toDF("b")
      .select(inflateBody(zstdTransport(col("b")), lit("zstd"))).head()
    assert(r.getString(0) === plain)
    // ... and through the fused frame, before the charset seam: the
    // compressed bytes carry the utf-8 C3A9 pairs, the decode
    // reconstructs é only if inflation ran first
    val wire = HttpCodec.zstdTransport(
      org.apache.spark.unsafe.types.UTF8String.fromString(
        new String(plain.getBytes("UTF-8"), "ISO-8859-1"))).toString
    val payload = "HTTP/1.1 200 OK\r\n" +
      "Content-Type: text/html; charset=utf-8\r\n" +
      "Content-Encoding: zstd\r\n\r\n" + wire
    val f = Seq(payload).toDF("payload").select(
      httpFrame(col("payload")).getField("body").as("body"),
      httpFrame(col("payload")).getField("body_ok").as("ok")).head()
    assert(f.getBoolean(1))
    assert(f.getString(0) === plain)
    // declared zstd over plain bytes: the verdict (the %17==9 leg)
    assert(HttpCodec.inflateBodyString(plain, "zstd") === null)
    // a truncated frame: the verdict, not a throw
    assert(HttpCodec.inflateBodyString(wire.dropRight(3), "zstd") === null)
    // empty body under the token: the verdict
    assert(HttpCodec.inflateBodyString("", "zstd") === null)
    // the bomb guard: a frame DECLARING (and containing) more than
    // the 64 MiB ceiling is rejected from its header, before any
    // proportional allocation
    val big = new Array[Byte](HttpCodec.ZstdMaxDecoded + 16)
    val c = new _root_.io.airlift.compress.zstd.ZstdCompressor()
    val out = new Array[Byte](c.maxCompressedLength(big.length))
    val n = c.compress(big, 0, big.length, out, 0, out.length)
    val bombWire = new String(out, 0, n, "ISO-8859-1")
    assert(HttpCodec.inflateBodyString(bombWire, "zstd") === null)
    // at the raw-bytes layer a just-under-cap frame still inflates
    val okBytes = HttpCodec.zstdInflate(
      java.util.Arrays.copyOf(out, n)) // same frame, cap applies
    assert(okBytes === null)
  }

  test("inflate_body: zlib FDICT stream is a verdict, not an infinite loop") {
    // 0x78 0x20: CMF=0x78 (deflate, 32K window), FLG with the FDICT
    // bit set and a valid check (0x7820 = 30752 = 961*32, divisible
    // by 31) — inflate() on this returns 0 with needsDictionary()
    // set, neither finished() nor needsInput(): the loop must yield
    // the null verdict instead of spinning (round-14 ADVICE, high)
    val fdict = new String(Array[Byte](0x78.toByte, 0x20.toByte,
      0x01, 0x02, 0x03, 0x04, 0x05, 0x06, 0x07, 0x08), "ISO-8859-1")
    val r = Seq(fdict).toDF("b")
      .select(inflateBody(col("b"), lit("deflate"))).head()
    assert(r.isNullAt(0))
  }

  test("http_frame: fused expression is column-identical to the staged round-14 chain") {
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val fixtures = Seq(
      "warc" -> HtmlOps.warcFrame(HtmlOps.plantedWarcCorpus(docs), "warc"),
      "reval" -> HtmlOps.warcFrame(
        HtmlOps.plantedRevalidationCorpus(docs), "warc"),
      "encoded" -> HtmlOps.plantedEncodedMessages(docs))
    fixtures.foreach { case (name, f) =>
      val fused = HtmlOps.httpFrame(f)
      val staged = HtmlOps.httpFrameStaged(f)
      // the staged witness carries the round-14 column set; the fused
      // form adds last_modified/http_content_length/body_len_ok on top
      val common = staged.columns.toSeq
      val a = fused.select(common.map(col): _*)
      val b = staged.select(common.map(col): _*)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"fused http_frame diverges from the staged chain on $name")
    }
    // the null-payload verdict row (a chunk with no response record)
    val r = graft.functions.HttpFrameImpl.frame(null)
    assert(r.isNullAt(0) && r.getUTF8String(1).toString === "" &&
      !r.getBoolean(2) && !r.getBoolean(12) && r.getBoolean(13))
  }

  test("warc_records: strict framing survives a payload quoting the version line") {
    import graft.functions.WarcSplitImpl
    val crlf = "\r\n"
    val quoted = "<p>see WARC/1.0" + crlf + "WARC-Type: response" + crlf +
      "quoted</p>"
    val pay = "HTTP/1.1 200 OK" + crlf + crlf + quoted
    val rec = "WARC/1.0" + crlf + "WARC-Type: response" + crlf +
      "WARC-Target-URI: https://t.example/p" + crlf +
      s"Content-Length: ${pay.getBytes("UTF-8").length}" + crlf + crlf +
      pay + crlf + crlf
    val req = "WARC/1.0" + crlf + "WARC-Type: request" + crlf +
      "Content-Length: 0" + crlf + crlf + crlf
    // strict walk: TWO records, the response payload intact
    val recs = WarcSplitImpl.strictWalk(req + rec)
    assert(recs !== null)
    assert(recs.size === 2)
    assert(recs(1).contains(quoted))
    // the round-14 version-line split would have made FOUR fragments
    assert((req + rec).split("WARC/1\\.0\r\n", -1).length === 4)
    // no Content-Length header → the walk declines, fallback applies
    assert(WarcSplitImpl.strictWalk(
      "WARC/1.0" + crlf + "WARC-Type: response" + crlf + crlf + "x") === null)
    // ISO 28500 field names are case-insensitive: a spec-conformant
    // lowercase header (no colon space) still gets strict framing
    val lc = "WARC/1.0" + crlf + "WARC-Type: response" + crlf +
      s"content-length:${pay.getBytes("UTF-8").length}" + crlf + crlf +
      pay + crlf + crlf
    val lcRecs = WarcSplitImpl.strictWalk(lc)
    assert(lcRecs !== null)
    assert(lcRecs.size === 1 && lcRecs.head.contains(quoted))
    // a TRUNCATED record followed by a valid one must FALL BACK so the
    // valid record survives the split — take-the-rest would swallow it
    assert(WarcSplitImpl.strictWalk(
      "WARC/1.0" + crlf + "WARC-Type: response" + crlf + "WARC-Da" + req)
      === null)
    // ...but a truncated TAIL (nothing follows) stays strict-frameable
    assert(WarcSplitImpl.strictWalk(
      "WARC/1.0" + crlf + "WARC-Type: response" + crlf + "WARC-Da")
      .size === 1)
    // end to end: a spec-conformant archive writing LOWERCASE field
    // names (ISO 28500 names are case-insensitive) frames AND keeps
    // its verdicts — target URI, date, and the octet check all parse
    val lcPay = "HTTP/1.1 200 OK" + crlf +
      "Content-Type: text/html; charset=utf-8" + crlf + crlf +
      "<html><title>lc</title>ok</html>"
    val lcChunk = "WARC/1.0" + crlf + "warc-type: response" + crlf +
      "warc-target-uri: https://lc.example/p" + crlf +
      "warc-date: 2026-01-01T00:00:00Z" + crlf +
      s"content-length:${lcPay.getBytes("UTF-8").length}" + crlf + crlf +
      lcPay + crlf + crlf
    val lcOut = HtmlOps.warcIngest(
      Seq((1L, lcChunk)).toDF("doc_id", "warc")).head()
    assert(lcOut.getAs[String]("target_uri") === "https://lc.example/p")
    assert(lcOut.getAs[String]("warc_date") === "2026-01-01T00:00:00Z")
    assert(lcOut.getAs[Boolean]("length_ok"))
    assert(lcOut.getAs[Boolean]("http_ok"))
    // end-to-end: every planted trap doc frames with length_ok on the
    // good legs — the quoting page is as fetchable as its neighbours
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val out = HtmlOps.warcIngest(HtmlOps.plantedWarcCorpus(docs))
      .filter(col("doc_id") % 19 === 13 &&
        !(col("doc_id") % 13).isin(3, 7, 11, 12))
    assert(out.count() > 0)
    assert(out.filter(!col("length_ok")).count() === 0)
    assert(out.filter(col("doc_id") % 13 === 4 &&
      !col("text_clean").contains("quoted archive")).count() === 0)
  }

  test("http_frame: windows-1252 C1 range translates per the declared codepage") {
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val out = HtmlOps.warcIngest(HtmlOps.plantedWarcCorpus(docs))
      .filter(col("doc_id") % 13 === 4 && col("doc_id") % 2 === 0)
      .select("charset", "text_clean").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getString(0) === "windows-1252")
      val t = r.getString(1)
      // the planted C1 bytes read as the codepage's codepoints —
      // smart quotes, curly apostrophes, en/em dashes — never as the
      // latin-1 control chars
      assert(t.contains("“smart” ‘q’ –en— café"), t)
      assert(!t.exists(c => c >= 0x80 && c <= 0x9f), t)
    }
  }

  test("http_frame: charset long tail decodes per the declared codepage (round 16)") {
    // the shared fixture constants ARE what the JDK decoders say —
    // the pin that keeps the oracle's replace-chain mirror honest
    def jdk(transport: String, cs: String): String = {
      val b = transport.toCharArray.map(_.toByte)
      new String(b, java.nio.charset.Charset.forName(cs))
    }
    assert(jdk(HtmlOps.sjisLeg._1, "Shift_JIS") === HtmlOps.sjisLeg._2)
    assert(jdk(HtmlOps.eucKrLeg._1, "EUC-KR") === HtmlOps.eucKrLeg._2)
    // the planted legs flow end-to-end through the fused frame
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val out = HtmlOps.warcIngest(HtmlOps.plantedWarcCorpus(docs))
      .filter(col("doc_id") % 13 === 0 && col("doc_id") % 3 =!= 0)
      .select("doc_id", "charset", "text_clean").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val id = r.getLong(0)
      if (id % 3 == 1) {
        assert(r.getString(1) === "shift_jis", r.toString)
        assert(r.getString(2).contains(HtmlOps.sjisLeg._2), r.toString)
      } else {
        assert(r.getString(1) === "euc-kr", r.toString)
        assert(r.getString(2).contains(HtmlOps.eucKrLeg._2), r.toString)
      }
      // no transport byte survives in decoded text
      assert(!r.getString(2).exists(c => c >= 0x80 && c <= 0xff), r.toString)
    }
    // MIS-DECLARED long-tail charsets degrade to byte identity, never
    // throw, never replace: 0x83 followed by an invalid Shift_JIS
    // trail byte
    import spark.implicits._
    val bad = "\u0083\u00ff after" // 0x83 lead + 0xFF invalid trail
    val payload = "HTTP/1.1 200 OK\r\n" +
      "Content-Type: text/html; charset=shift_jis\r\n\r\n" + bad
    val row = Seq(payload).toDF("payload")
      .select(httpFrame(col("payload")).getField("body").as("body")).head()
    assert(row.getString(0) === bad)
    // an alias spelling routes to the same decoder
    val alias = Seq("HTTP/1.1 200 OK\r\n" +
      "Content-Type: text/html; charset=sjis\r\n\r\n" +
      HtmlOps.sjisLeg._1).toDF("payload")
      .select(httpFrame(col("payload")).getField("body").as("body")).head()
    assert(alias.getString(0) === HtmlOps.sjisLeg._2)
  }

  test("http_frame: Last-Modified rides beside ETag; %10==4 docs are date-validator-only") {
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val out = HtmlOps.warcIngest(HtmlOps.plantedWarcCorpus(docs))
      .filter(col("doc_id") % 13 =!= 3 && col("doc_id") % 13 =!= 11)
      .select("doc_id", "etag", "last_modified").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val id = r.getLong(0)
      assert(r.getString(2) ===
        f"Mon, ${id % 28 + 1}%02d Jan 2026 00:00:00 GMT", id)
      if (id % 10 == 4) assert(r.getString(1) === "", id)
      else assert(r.getString(1) === "\"v" + (id % 9) + "\"", id)
    }
  }

  test("body_len_ok (q217): truncated identity bodies flagged, Transfer-Encoding exempt") {
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val out = HtmlOps.httpFrame(HtmlOps.plantedLengthMessages(docs))
      .select(col("doc_id") % 4, col("http_content_length").isNull,
        col("body_ok"), col("body_len_ok")).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val m = r.getLong(0)
      assert(r.getBoolean(2), s"m=$m body_ok") // every leg DECODES fine
      assert(r.getBoolean(1) === (m == 3), s"m=$m cl-null")
      // only the overstated-identity leg fires; the lying chunked leg
      // is exempt (RFC 9112 §6.3: TE present → ignore Content-Length)
      assert(r.getBoolean(3) === (m != 1), s"m=$m len_ok")
    }
    import graft.functions.HttpFrameImpl
    def frameOf(pay: String) = HttpFrameImpl.frame(
      org.apache.spark.unsafe.types.UTF8String.fromString(pay))
    // a bodiless 304 may declare the SELECTED representation's
    // Content-Length (RFC 9110 §8.6) — never a truncation verdict
    val r304 = frameOf(
      "HTTP/1.1 304 Not Modified\r\nContent-Length: 1234\r\nETag: \"x\"")
    assert(r304.getBoolean(13), "304 with Content-Length is not truncated")
    // ...while a 200 shipping fewer bytes than declared IS flagged
    assert(!frameOf(
      "HTTP/1.1 200 OK\r\nContent-Length: 10\r\n\r\nshort").getBoolean(13))
    // the check counts CODE POINTS (Spark length() semantics): a
    // non-BMP char is ONE, not two UTF-16 units
    assert(frameOf(
      "HTTP/1.1 200 OK\r\nContent-Length: 1\r\n\r\n😀").getBoolean(13))
    // Content-Length counts the content-CODED octets (RFC 9110 §8.6):
    // a gzip body with the correct COMPRESSED length is intact — the
    // check runs against the received wire body, never the inflated one
    val gz = HttpCodec.gzipTransport(
      org.apache.spark.unsafe.types.UTF8String
        .fromString("<html>a much longer inflated body</html>")).toString
    val rGz = frameOf("HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n" +
      s"Content-Length: ${gz.length}\r\n\r\n" + gz)
    assert(rGz.getBoolean(12), "gzip body decodes")   // body_ok
    assert(rGz.getBoolean(13), "compressed declaration is intact")
    assert(!frameOf("HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n" +
      s"Content-Length: ${gz.length + 9}\r\n\r\n" + gz).getBoolean(13))
  }

  test("warc_records: a length splitting a character falls back; EOF overrun takes the rest") {
    import graft.functions.WarcSplitImpl
    val crlf = "\r\n"
    val req = "WARC/1.0" + crlf + "WARC-Type: request" + crlf +
      "Content-Length: 0" + crlf + crlf + crlf
    // 'café' = 5 octets; declaring 4 lands INSIDE the é — provably
    // wrong while a valid record follows: must fall back so the
    // follower survives the version-line split
    val midChar = "WARC/1.0" + crlf + "WARC-Type: response" + crlf +
      "Content-Length: 4" + crlf + crlf + "café" + crlf + crlf
    assert(WarcSplitImpl.strictWalk(midChar + req) === null)
    // ...while a genuine EOF overrun (nothing follows) still takes
    // the rest — the overstated-length leg's contract
    val overrun = "WARC/1.0" + crlf + "WARC-Type: response" + crlf +
      "Content-Length: 999" + crlf + crlf + "short"
    assert(WarcSplitImpl.strictWalk(overrun).size === 1)
  }

  test("url algebra: own-authority gate is authority-optional, matching the oracle mirrors") {
    import graft.functions.UrlOps
    // degenerate references: '//' and '///x' have the authority FORM
    // but no authority — the DuckDB mirrors (and robotsGate) classify
    // them own-authority, so the native gate must too (round-14
    // ADVICE, medium: they used to resolve server-relative here while
    // staying themselves in the oracle)
    assert(UrlOps.resolvedUrl("//", "h.example", "/") === "//")
    assert(UrlOps.resolvedUrl("///x", "h.example", "/") === "///x")
    assert(UrlOps.resolvedUrl("//?q", "h.example", "/") === "//?q")
    assert(UrlOps.urlPath("//") === "")
    assert(UrlOps.urlPath("///x") === "")
    // real references keep their behavior
    assert(UrlOps.resolvedUrl("//o.example/a", "h.example", "/") ===
      "//o.example/a")
    assert(UrlOps.resolvedUrl("/a/b", "h.example", "/") ===
      "//h.example/a/b")
    assert(UrlOps.urlPath("https://h.example/a/b?q") === "/a/b")
  }

  test("httpFrame: chunked legs decode length-driven, malformed chunk is a body_ok verdict") {
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val out = HtmlOps.warcIngest(HtmlOps.plantedWarcCorpus(docs))
      .withColumn("m", col("doc_id") % 13)
    // the chunked leg frames, gates, AND decodes: its extracted text
    // carries the planted trap tokens ("ck 1A 9 zz") as TEXT — the
    // hex-looking line inside chunk data never became framing
    assert(out.filter(col("m") === 6).count() > 0)
    assert(out.filter(col("m") === 6 && (!col("length_ok") ||
      !col("http_ok") || !col("body_ok"))).count() === 0)
    assert(out.filter(col("m") === 6 &&
      !col("text_clean").contains("ck 1A 9 zz")).count() === 0)
    // chunk-size lines never leak into extracted text
    assert(out.filter(col("m") === 6 &&
      col("text_clean").rlike("(^|[ ])10;x=1([ ]|$)")).count() === 0)
    // the malformed-chunk leg: framed and 200 text/html, but the body
    // cannot be trusted — body_ok false, null body, never an exception
    assert(out.filter(col("m") === 12).count() > 0)
    assert(out.filter(col("m") === 12 && (!col("length_ok") ||
      !col("http_ok") || col("body_ok"))).count() === 0)
    assert(out.filter(col("m") === 12 && col("text_clean").isNotNull)
      .count() === 0)
    // every non-wire-coded leg keeps body_ok = true wherever a body
    // exists (the missing-response leg has none)
    assert(out.filter(!col("m").isin(3, 12) && !col("body_ok"))
      .count() === 0)
  }

  test("httpFrame: quoted charset unquotes and decodes; unknown charset keeps byte identity") {
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val out = HtmlOps.warcIngest(HtmlOps.plantedWarcCorpus(docs))
      .withColumn("m", col("doc_id") % 13)
    // charset="utf-8" (quoted) extracts unquoted and decodes the C3A9
    // pair exactly like the bare spelling
    assert(out.filter(col("m") === 10 && col("charset") =!= "utf-8")
      .count() === 0)
    assert(out.filter(col("m") === 10 &&
      !col("text_clean").contains("résumé café")).count() === 0)
    // a DECLARED legacy charset whose bytes happen to pass the UTF-8
    // DFA must NOT be decoded as UTF-8 — byte identity preserved
    val legacyPay = "HTTP/1.1 200 OK\r\n" +
      "Content-Type: text/html; charset=windows-1252\r\n\r\n" +
      "<p>cafÃ©</p>" // C3 A9 as latin-1 chars
    val legacy = Seq((1L, legacyPay)).toDF("doc_id", "pay")
      .withColumn("warc", concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\n" +
          "WARC-Target-URI: https://h.example/x\r\n" +
          "WARC-Date: 2026-01-01T00:00:00Z\r\nContent-Length: "),
        octet_length(col("pay")).cast("string"), lit("\r\n\r\n"),
        col("pay"), lit("\r\n\r\n")))
      .select(col("doc_id"), col("warc"))
    val lg = HtmlOps.warcIngest(legacy).head()
    assert(lg.getAs[String]("charset") === "windows-1252")
    // stays the two bytes, never the single decoded é
    assert(lg.getAs[String]("text_clean").contains("cafÃ©"))
    // the ETag validator is captured quotes-and-all on planted legs
    // (the %10==4 legs ship Last-Modified only — excluded here)
    assert(out.filter(col("m") === 0 && col("doc_id") % 10 =!= 4 &&
      col("etag") =!= concat(lit("\"v"), col("doc_id") % 9, lit("\"")))
      .count() === 0)
  }

  test("httpFrame: Content-Encoding gzip/deflate bodies inflate before the charset seam") {
    // a gzip body whose INFLATED bytes are the utf-8 C3A9 pair under a
    // declared utf-8 charset: inflate must run FIRST or the charset
    // decode sees compressed bytes (mojibake / DFA failure)
    def chunk(enc: String, bodyWire: Column): org.apache.spark.sql.DataFrame =
      Seq(1L).toDF("doc_id")
        .withColumn("body_wire", bodyWire)
        .withColumn("pay", concat(
          lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n" +
            s"Content-Encoding: $enc\r\n\r\n"), col("body_wire")))
        .withColumn("warc", concat(
          lit("WARC/1.0\r\nWARC-Type: response\r\n" +
            "WARC-Target-URI: https://h.example/x\r\n" +
            "WARC-Date: 2026-01-01T00:00:00Z\r\nContent-Length: "),
          octet_length(col("pay")).cast("string"), lit("\r\n\r\n"),
          col("pay"), lit("\r\n\r\n")))
        .select(col("doc_id"), col("warc"))
    val plain = expr("'<p>caf' || chr(195) || chr(169) || '</p>'")
    val g = HtmlOps.warcIngest(chunk("gzip", gzipTransport(plain))).head()
    assert(g.getAs[Boolean]("body_ok"))
    assert(g.getAs[String]("text_clean") === "café")
    val d = HtmlOps.warcIngest(
      chunk("deflate", deflateTransport(plain))).head()
    assert(d.getAs[Boolean]("body_ok"))
    assert(d.getAs[String]("text_clean") === "café")
    // an undecodable coding is a verdict, not an exception
    val u = HtmlOps.warcIngest(chunk("br", plain)).head()
    assert(!u.getAs[Boolean]("body_ok"))
    assert(u.isNullAt(u.fieldIndex("text_clean")))
    // a corrupt gzip stream under a declared gzip coding: verdict
    val c = HtmlOps.warcIngest(chunk("gzip", plain)).head()
    assert(!c.getAs[Boolean]("body_ok"))
  }

  test("gunzipWarcChunks: structural verdicts replace the residue heuristic") {
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
      .limit(50)
    val gz = HtmlOps.plantedGzipWarcCorpus(docs)
    // clean round trip: decompress-then-frame ≡ frame (bit-identical)
    val a = HtmlOps.warcIngest(HtmlOps.gunzipWarcChunks(gz))
    val b = HtmlOps.warcIngest(HtmlOps.plantedWarcCorpus(docs))
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0)
    // a truncated final member SHORTER than the JDK's 26-byte
    // readahead: the old heuristic read it as clean; the structural
    // walk yields the empty-chunk verdict (no records, counted)
    val truncated = gz.select(col("doc_id"),
      expr("substring(warc_gz, 1, octet_length(warc_gz) - 8)").as("warc_gz"))
    val t = HtmlOps.warcIngest(HtmlOps.gunzipWarcChunks(truncated))
    assert(t.filter(col("n_records") > 0).count() === 0)
    assert(t.count() === 50) // verdict rows, not dropped rows
  }
}
