package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftPlanBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Byte-level HTTP/archive codecs behind the crawl front door
  * (SURVEY §2.2 crawl family; the reference ceiling is R10's
  * arbitrary-code envelope, /root/reference MapReduceWSI.java:62-79 —
  * the semantics here are the HTTP/1.1 + gzip wire formats real
  * archives carry, RFC 9112 §7.1 / RFC 1952).
  *
  * Strings at this layer are TRANSPORT BYTES under the latin-1
  * identity (one char per byte, every char ≤ 0xFF) — the convention
  * the WARC gzip front door established: `encode(s, 'ISO-8859-1')`
  * reconstructs the exact bytes, `new String(b, "ISO-8859-1")` is the
  * inverse. Charset interpretation happens STRICTLY AFTER these
  * codecs (inflate before decode, or mojibake is forever).
  *
  * Every decoder returns NULL on malformed input — the
  * corrupt-input-as-verdict contract: a truncated chunk or a lying
  * gzip trailer must become a countable verdict row, never a task
  * failure and never a plausible-but-partial payload.
  */
object HttpCodec {

  /** RFC 9112 §7.1 chunked transfer decoding, STRICT on the data:
    * `chunk-size [;ext] CRLF data CRLF` repeated, terminated by a
    * zero-size chunk. Sizes are hex (either case), chunk extensions
    * are skipped, trailer fields after the last chunk are skipped.
    * Length-driven, never line-sniffing: data MAY contain
    * CRLF-delimited hex-looking lines (planted in the fixture) —
    * only the declared size decides where a chunk ends.
    *
    * Epilogue tolerance, stated: [[graft.ops.HtmlOps.warcFrame]]
    * strips trailing CRLFs as record framing, so the terminating
    * `0 CRLF [trailer] CRLF` may arrive with its final CRLFs (or the
    * last-chunk CRLF before it) missing — end-of-input is accepted
    * anywhere in the epilogue. Truncated DATA (declared size past the
    * end, or a missing CRLF between chunks) stays null: partial
    * salvage would frame plausibly but lie about the payload.
    */
  def dechunk(s: UTF8String): UTF8String = {
    if (s == null) return null
    val t = s.toString
    val out = dechunkString(t)
    if (out == null) null else UTF8String.fromString(out)
  }

  def dechunkString(t: String): String = {
    val n = t.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (true) {
      // size line: hex digits, optional ;extension, CRLF (or EOF for
      // the terminal 0 under the epilogue tolerance)
      var j = i
      var size = 0L
      var digits = 0
      while (j < n && digits >= 0 && isHex(t.charAt(j))) {
        size = size * 16 + hexVal(t.charAt(j))
        digits += 1
        if (size > Int.MaxValue) return null // absurd chunk: corrupt
        j += 1
      }
      if (digits == 0) return null // no size where one is required
      // skip a chunk extension up to the line end
      var k = j
      if (k < n && t.charAt(k) == ';') {
        while (k < n && t.charAt(k) != '\r') k += 1
      }
      val atEof = k >= n
      if (!atEof && !(k + 1 < n && t.charAt(k) == '\r' && t.charAt(k + 1) == '\n')) {
        // something other than CRLF/EOF terminates the size line
        return null
      }
      if (size == 0) {
        // terminal chunk: trailer fields (if any) are skipped, and
        // end-of-input is legal anywhere from here on (the warcFrame
        // trailing-CRLF strip) — the message is complete
        return sb.toString
      }
      if (atEof) return null // size > 0 but no data can follow
      val dataStart = k + 2
      // UNIT NOTE (round-15 ADVICE #2): declared sizes here count
      // CODE POINTS (Spark `length` semantics — at the transport
      // layer, chars ≤ 0xFF, that IS the octet count, and the
      // fixtures/oracle declare chunk sizes with length()), while the
      // WARC layer one frame out (WarcSplitImpl.advanceOctets,
      // warcFrame's length_ok) counts UTF-8 OCTETS of the same chars
      // — ISO 28500 declares record lengths in bytes and the fixtures
      // declare those with octet_length(). The two conventions agree
      // on every transport-layer string that stayed bytes (≤ 0xFF ⇒
      // 1 code point may be 2 octets — the fixtures therefore declare
      // each layer in ITS unit); a future leg planting non-ASCII
      // INSIDE a chunked wire body must keep declaring chunk sizes in
      // code points or this parse mis-frames it. offsetByCodePoints
      // walks them and throwing past the end is the truncation verdict
      val dataEnd =
        try t.offsetByCodePoints(dataStart, size.toInt)
        catch { case _: IndexOutOfBoundsException => return null }
      sb.append(t, dataStart, dataEnd)
      // CRLF after the data (EOF tolerated only when what's missing
      // is the epilogue — i.e. nothing at all follows)
      if (dataEnd == n) return null // a valid message always continues with "0"
      if (!(dataEnd + 1 < n && t.charAt(dataEnd) == '\r' &&
            t.charAt(dataEnd + 1) == '\n')) {
        // tolerate "...data\r\n0" truncated to "...data" + EOF? No:
        // the 0-chunk's size line survives the framing strip by
        // construction ("\r\n0" keeps its leading CRLF) — strict here
        return null
      }
      i = dataEnd + 2
    }
    null // unreachable
  }

  private def isHex(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
  private def hexVal(c: Char): Int =
    if (c <= '9') c - '0' else (c | 0x20) - 'a' + 10

  /** Multi-member gzip inflation with STRUCTURAL verification
    * (RFC 1952): members are walked explicitly — header parsed (magic
    * 1f 8b, CM=8, FLG-driven optional fields), the deflate stream
    * inflated with a raw [[java.util.zip.Inflater]], and the 8-byte
    * trailer's CRC32 + ISIZE checked against the inflated bytes.
    * Returns null unless EVERY byte of the input is accounted for by
    * verified members — a truncated final member, a corrupt
    * mid-stream header, or a lying trailer is a verdict, not a
    * partial salvage. (This replaces the earlier GZIPInputStream
    * residue heuristic, which encoded the JDK's private 26-byte
    * readahead constant — round-13 ADVICE.)
    *
    * The Inflater's native buffers are released via `end()` in a
    * finally block — probed: leaking them to the finalizer made a 10×
    * corpus superlinear.
    */
  def inflateMembers(b: Array[Byte]): Array[Byte] = {
    if (b == null) return null
    if (b.length == 0) return Array.emptyByteArray
    val out = new java.io.ByteArrayOutputStream(b.length * 4)
    val buf = new Array[Byte](8192)
    var off = 0
    val crc = new java.util.zip.CRC32()
    while (off < b.length) {
      // ---- member header ----
      if (b.length - off < 10) return null
      if (b(off) != 0x1f.toByte || b(off + 1) != 0x8b.toByte ||
          b(off + 2) != 8.toByte) return null
      val flg = b(off + 3) & 0xff
      var p = off + 10
      if ((flg & 4) != 0) { // FEXTRA
        if (b.length - p < 2) return null
        val xlen = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
        p += 2 + xlen
        if (p > b.length) return null
      }
      if ((flg & 8) != 0) { // FNAME
        while (p < b.length && b(p) != 0) p += 1
        if (p >= b.length) return null
        p += 1
      }
      if ((flg & 16) != 0) { // FCOMMENT
        while (p < b.length && b(p) != 0) p += 1
        if (p >= b.length) return null
        p += 1
      }
      if ((flg & 2) != 0) { // FHCRC
        p += 2
        if (p > b.length) return null
      }
      // ---- deflate body ----
      val inf = new java.util.zip.Inflater(true)
      val memberStart = out.size()
      try {
        inf.setInput(b, p, b.length - p)
        crc.reset()
        while (!inf.finished()) {
          val m =
            try inf.inflate(buf)
            catch { case _: java.util.zip.DataFormatException => return null }
          if (m > 0) { out.write(buf, 0, m); crc.update(buf, 0, m) }
          else if (inf.needsInput()) return null // truncated deflate stream
          // defensive: a raw stream cannot legally demand a preset
          // dictionary, but inflate() reports it as 0-with-needs —
          // without this arm the loop would spin forever (see
          // inflateZlib, where the FDICT flag makes it reachable)
          else if (inf.needsDictionary()) return null
        }
        p += inf.getBytesRead.toInt
      } finally inf.end()
      // ---- trailer: CRC32 + ISIZE (both little-endian) ----
      if (b.length - p < 8) return null
      val crcStored = le32(b, p)
      val isize = le32(b, p + 4)
      if (crcStored != (crc.getValue & 0xffffffffL)) return null
      if (isize != ((out.size() - memberStart).toLong & 0xffffffffL)) return null
      off = p + 8
    }
    out.toByteArray
  }

  private def le32(b: Array[Byte], p: Int): Long =
    ((b(p) & 0xffL)) | ((b(p + 1) & 0xffL) << 8) |
      ((b(p + 2) & 0xffL) << 16) | ((b(p + 3) & 0xffL) << 24)

  /** [[inflateMembers]] over a latin-1 transport string. */
  def inflateTransport(s: String): String = {
    val out = inflateMembers(s.getBytes("ISO-8859-1"))
    if (out == null) null else new String(out, "ISO-8859-1")
  }

  /** `Content-Encoding` body inflation at the transport-string layer:
    * '' / identity pass through, gzip/x-gzip inflate via
    * [[inflateMembers]] (same structural verification), deflate
    * accepts both the RFC 9110 zlib wrapping and the bare deflate
    * stream real servers ship under that token. Any OTHER token
    * (br, zstd, …) — or a body that does not inflate — is null: an
    * encoding this engine cannot reverse must become a verdict, never
    * binary soup fed to the text gates.
    */
  def inflateBody(body: UTF8String, enc: UTF8String): UTF8String = {
    if (body == null) return null
    val r = inflateBodyString(body.toString,
      if (enc == null) "" else enc.toString)
    if (r == null) null else UTF8String.fromString(r)
  }

  /** [[inflateBody]] at the plain-string layer — the form the fused
    * [[HttpFrameImpl]] calls.
    */
  def inflateBodyString(body: String, enc: String): String = {
    if (body == null) return null
    enc match {
      case "" | "identity" => body
      case "gzip" | "x-gzip" => inflateTransport(body)
      case "deflate" =>
        val raw = body.getBytes("ISO-8859-1")
        val r = inflateZlib(raw, nowrap = false) match {
          case null => inflateZlib(raw, nowrap = true)
          case ok => ok
        }
        if (r == null) null else new String(r, "ISO-8859-1")
      case "zstd" =>
        val r = zstdInflate(body.getBytes("ISO-8859-1"))
        if (r == null) null else new String(r, "ISO-8859-1")
      // any other coding (`br` included: the JDK ships no brotli
      // codec) is the body_ok = false verdict
      case _ => null
    }
  }

  private def inflateZlib(b: Array[Byte], nowrap: Boolean): Array[Byte] = {
    if (b.length == 0) return null
    val inf = new java.util.zip.Inflater(nowrap)
    try {
      inf.setInput(b)
      val out = new java.io.ByteArrayOutputStream(b.length * 4)
      val buf = new Array[Byte](8192)
      while (!inf.finished()) {
        val m =
          try inf.inflate(buf)
          catch { case _: java.util.zip.DataFormatException => return null }
        if (m > 0) out.write(buf, 0, m)
        else if (inf.needsInput()) return null
        // a zlib header with the FDICT flag (e.g. 0x78 0x20) asks for
        // a preset dictionary this engine can never have: inflate()
        // then returns 0 with needsDictionary() set and neither
        // needsInput() nor finished() — without this arm the loop
        // spins at 100% CPU on two untrusted bytes. Verdict, not hang.
        else if (inf.needsDictionary()) return null
      }
      out.toByteArray
    } finally inf.end()
  }

  /** FIXTURE-side gzip of a transport string (one member, default
    * deflate settings). Never compared byte-wise to any oracle — the
    * oracle always replays the UNCOMPRESSED twin and the check is
    * inflate ∘ deflate = id (the q206/q210 pattern).
    */
  def gzipTransport(s: UTF8String): UTF8String = {
    if (s == null) return null
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    // close() in a finally: if the write throws, the Deflater's
    // native buffers must not leak to the finalizer (the exact
    // superlinear-leak mode inflateMembers/deflateTransport guard)
    try g.write(s.toString.getBytes("ISO-8859-1")) finally g.close()
    UTF8String.fromString(new String(bos.toByteArray, "ISO-8859-1"))
  }

  /** Decoded-size ceiling for a zstd body (64 MiB) — the
    * decompression-bomb guard, same order as the imaging guard
    * ([[graft.ops.MultimodalOps.DefaultMaxPixels]]): an RFC 8878
    * frame header may DECLARE any content size over a handful of
    * wire bytes, so the declared size is checked BEFORE any
    * allocation and the verdict (null) is the answer past the cap —
    * never a 2 GB array from two bytes of hostile header.
    */
  val ZstdMaxDecoded: Int = 1 << 26

  /** RFC 8878 zstd inflation via the pure-JVM decoder Spark itself
    * ships (aircompressor — its Parquet/ORC codec path; on the
    * executor classpath of every Spark deployment by construction,
    * which is what lets `zstd` be a BUILT-IN coding while `br`
    * stays a verdict). Structural per the decoder: magic,
    * block structure, and the frame's XXH64 checksum when present
    * are verified; any malformation — truncation, garbage, a
    * declared content size over [[ZstdMaxDecoded]] — is the null
    * verdict, never a throw. Frames whose header omits the content
    * size (streamed producers) decompress through a doubling
    * buffer capped at the same ceiling.
    */
  def zstdInflate(b: Array[Byte]): Array[Byte] = {
    if (b.length == 0) return null
    val declared =
      try _root_.io.airlift.compress.zstd.ZstdDecompressor.getDecompressedSize(
        b, 0, b.length)
      catch { case scala.util.control.NonFatal(_) => return null }
    if (declared > ZstdMaxDecoded) return null // the bomb verdict
    val dec = new _root_.io.airlift.compress.zstd.ZstdDecompressor()
    if (declared >= 0) {
      val out = new Array[Byte](declared.toInt)
      try {
        val n = dec.decompress(b, 0, b.length, out, 0, out.length)
        if (n == declared) out else null // lying header: verdict
      } catch { case scala.util.control.NonFatal(_) => null }
    } else {
      // unknown content size: grow geometrically to the cap. The
      // decoder distinguishes buffer exhaustion from corruption only
      // by message, so every failure retries larger until the cap
      // rules the input either a bomb or garbage — bounded at
      // log2(cap/start) ≈ 8 attempts on hostile input.
      var cap = math.max(64 * 1024, b.length * 4)
      while (cap <= ZstdMaxDecoded) {
        val out = new Array[Byte](cap)
        try {
          val n = dec.decompress(b, 0, b.length, out, 0, out.length)
          return java.util.Arrays.copyOf(out, n)
        } catch { case scala.util.control.NonFatal(_) => }
        cap = if (cap == ZstdMaxDecoded) Int.MaxValue
              else math.min(cap * 4, ZstdMaxDecoded)
      }
      null
    }
  }

  /** FIXTURE-side zstd of a transport string (one frame, default
    * level; the single-pass API stamps the content size into the
    * frame header, so [[zstdInflate]] takes the exact-allocation
    * path). Never compared byte-wise to any oracle — the check is
    * inflate ∘ deflate = id, the q206/q212 pattern.
    */
  def zstdTransport(s: UTF8String): UTF8String = {
    if (s == null) return null
    val in = s.toString.getBytes("ISO-8859-1")
    val c = new _root_.io.airlift.compress.zstd.ZstdCompressor()
    val out = new Array[Byte](c.maxCompressedLength(in.length))
    val n = c.compress(in, 0, in.length, out, 0, out.length)
    UTF8String.fromString(new String(out, 0, n, "ISO-8859-1"))
  }

  /** FIXTURE-side zlib deflate of a transport string. */
  def deflateTransport(s: UTF8String): UTF8String = {
    if (s == null) return null
    val d = new java.util.zip.Deflater()
    try {
      val in = s.toString.getBytes("ISO-8859-1")
      d.setInput(in); d.finish()
      val out = new java.io.ByteArrayOutputStream(in.length + 32)
      val buf = new Array[Byte](8192)
      while (!d.finished()) {
        val m = d.deflate(buf)
        if (m > 0) out.write(buf, 0, m)
      }
      UTF8String.fromString(new String(out.toByteArray, "ISO-8859-1"))
    } finally d.end()
  }
}

/** RFC 3986 §5.2.4 dot-segment removal — the bounded regex fix-point
  * (six passes of: collapse `/./`, one `/seg/../` level per
  * non-overlapping region, trailing `/.` and `/seg/..`, root-clamped
  * leading `/../` runs) with patterns precompiled once. The DuckDB
  * oracle replays the LITERALLY identical passes in RE2
  * (lookahead-free segment class, no backreferences), so both engines
  * normalize any input identically by construction. A ≥7-deep
  * dot-segment chain is left partially normalized — stated bound.
  *
  * Kept NATIVE deliberately: as a Column-DSL regex chain the 36
  * replace layers get SUBSTITUTED through projections by the
  * planner's alias inlining (PhysicalOperation.trimAliases), and the
  * frontier compositions (resolve → trap-gate → canonicalize →
  * re-canonicalize in the artifact writers) multiplied the tree into
  * minutes of analysis time — one expression node keeps every plan
  * that touches URLs small.
  */
object RemoveDotsImpl {
  private val seg = "(?:\\.[^/.]|\\.\\.[^/]|[^/.])[^/]*"
  private val p1 = java.util.regex.Pattern.compile("/\\./")
  private val p2 = java.util.regex.Pattern.compile(s"/$seg/\\.\\./")
  // \z, not $: java's $ also matches before a trailing newline,
  // RE2's (unflagged) $ is end-of-text only — the mirror must agree
  // even on degenerate href values carrying terminators
  private val p3 = java.util.regex.Pattern.compile(s"/$seg/\\.\\.\\z")
  private val p4 = java.util.regex.Pattern.compile("/\\.\\z")
  private val p5 = java.util.regex.Pattern.compile("^/(?:\\.\\./)+")
  private val p6 = java.util.regex.Pattern.compile("^/\\.\\.\\z")

  def remove(path: String): String = {
    if (path == null || !path.contains("/.")) return path
    var s = path
    var i = 0
    while (i < 6) {
      s = p1.matcher(s).replaceAll("/")
      s = p2.matcher(s).replaceAll("/")
      s = p3.matcher(s).replaceAll("/")
      s = p4.matcher(s).replaceAll("/")
      s = p5.matcher(s).replaceAll("/")
      s = p6.matcher(s).replaceAll("/")
      i += 1
    }
    s
  }

  def removeU8(s: UTF8String): UTF8String =
    if (s == null) null else UTF8String.fromString(remove(s.toString))
}

/** `remove_dots(path)` — [[RemoveDotsImpl]] as one codegen'd node. */
case class RemoveDots(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "remove_dots"

  override protected def nullSafeEval(input: Any): Any =
    RemoveDotsImpl.removeU8(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.RemoveDotsImpl.removeU8($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `chunked_decode(body)` — [[HttpCodec.dechunk]] as a native
  * expression: stays inside whole-stage codegen (one static call per
  * row, no UDF boxing), null on malformed input.
  */
case class ChunkedDecode(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "chunked_decode"

  override protected def nullSafeEval(input: Any): Any =
    HttpCodec.dechunk(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("r")
      s"""
         |UTF8String $r = graft.functions.HttpCodec.dechunk($c);
         |${ev.isNull} = ($r == null);
         |${ev.value} = $r;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `inflate_body(body, encoding)` — [[HttpCodec.inflateBody]] as a
  * native expression: Content-Encoding reversal on the transport
  * string, null for undecodable encodings or corrupt streams.
  */
case class InflateBody(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType, StringType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "inflate_body"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    HttpCodec.inflateBody(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("r")
      s"""
         |UTF8String $r = graft.functions.HttpCodec.inflateBody($a, $b);
         |${ev.isNull} = ($r == null);
         |${ev.value} = $r;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `gzip_transport(s)` / `deflate_transport(s)` — fixture-side
  * compressors (see [[HttpCodec.gzipTransport]]): planted corpora
  * compress in-plan so the decoders can be held to the uncompressed
  * twin's oracle.
  */
case class GzipTransport(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "gzip_transport"

  override protected def nullSafeEval(input: Any): Any =
    HttpCodec.gzipTransport(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HttpCodec.gzipTransport($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class ZstdTransport(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "zstd_transport"

  override protected def nullSafeEval(input: Any): Any =
    HttpCodec.zstdTransport(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HttpCodec.zstdTransport($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class DeflateTransport(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "deflate_transport"

  override protected def nullSafeEval(input: Any): Any =
    HttpCodec.deflateTransport(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HttpCodec.deflateTransport($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column constructors for the HTTP and WARC wire expressions: the
  * ones above, [[HttpFrame]] and [[WarcRecords]].
  */
object HttpFunctions {
  def httpFrame(payload: Column): Column = column(HttpFrame(expression(payload)))
  def warcRecords(warc: Column): Column = column(WarcRecords(expression(warc)))
  def chunkedDecode(body: Column): Column = column(ChunkedDecode(expression(body)))
  def inflateBody(body: Column, encoding: Column): Column =
    column(InflateBody(expression(body), expression(encoding)))
  def gzipTransport(s: Column): Column = column(GzipTransport(expression(s)))
  def deflateTransport(s: Column): Column = column(DeflateTransport(expression(s)))
  def zstdTransport(s: Column): Column = column(ZstdTransport(expression(s)))
}
