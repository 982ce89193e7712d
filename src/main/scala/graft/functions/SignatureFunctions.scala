package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftPlanBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused native forms of the dedup-family SIGNATURE computations
  * (round-16 optimization; guide §1.2 step 2 "per-task work" + §2.4
  * "remove shuffles outright").
  *
  * The composable Catalyst forms evaluated, per shingle, `numHashes`
  * separate `md5(concat(...))` expression trees — each call paying a
  * fresh `MessageDigest.getInstance`, a concat allocation, a 32-char
  * hex string materialization, and (for the batch minhash) an explode
  * to one ROW per shingle followed by a corpus-wide hash aggregation
  * whose only job was to take per-document minima of values that all
  * came from the SAME input row. These expressions do the identical
  * arithmetic in one pass over the token array with a reused digest
  * instance, compare DIGEST BYTES instead of hex strings (lowercase
  * hex encoding is strictly monotone in the byte value, so the byte
  * minimum IS the hex minimum), and hex-encode only the winners.
  *
  * Bit-identity with the composable forms is pinned in
  * SignatureFunctionsSpec (the DedupOpsSpec batch≡rowwise equivalence
  * extends through these: same md5 seeds, same lexicographic minima,
  * same vote arithmetic).
  */
private[graft] object SignatureImpl {
  private val md5tl: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  private val hexDigits = "0123456789abcdef".getBytes

  /** The `"<seed>:"` digest prefixes, built ONCE per geometry instead
    * of per row (round-16 ADVICE: the per-row `Array.tabulate` +
    * default-charset `getBytes` was fresh garbage in the hottest
    * loop), with the charset pinned to UTF-8 explicitly.
    */
  private val prefixCache =
    new java.util.concurrent.ConcurrentHashMap[Integer, Array[Array[Byte]]]()
  private def seedPrefixes(numHashes: Int): Array[Array[Byte]] =
    prefixCache.computeIfAbsent(numHashes,
      n => Array.tabulate(n)(s =>
        (s.toString + ":").getBytes(java.nio.charset.StandardCharsets.UTF_8)))

  /** Lowercase hex of a 16-byte digest as raw ASCII bytes. */
  def hex(d: Array[Byte], off: Int): Array[Byte] = {
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      val b = d(off + i) & 0xff
      out(2 * i) = hexDigits(b >>> 4)
      out(2 * i + 1) = hexDigits(b & 0xf)
      i += 1
    }
    out
  }

  /** Unsigned lexicographic compare of two 16-byte digests. */
  def cmp16(a: Array[Byte], ao: Int, b: Array[Byte], bo: Int): Int = {
    var i = 0
    while (i < 16) {
      val x = a(ao + i) & 0xff
      val y = b(bo + i) & 0xff
      if (x != y) return x - y
      i += 1
    }
    0
  }

  /** UTF-8 byte views of the token array, null tokens as null (the
    * concat_ws convention: skipped, separator and all).
    */
  def tokenBytes(arr: ArrayData): Array[Array[Byte]] = {
    val n = arr.numElements()
    val out = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) out(i) = arr.getUTF8String(i).getBytes
      i += 1
    }
    out
  }

  /** md5 of `prefix ++ join(' ', toks[i..i+k-1] non-null)` into `out`.
    * Streaming updates — the joined shingle string is never built.
    */
  def shingleDigest(md: MessageDigest, prefix: Array[Byte],
                    toks: Array[Array[Byte]], i: Int, k: Int,
                    out: Array[Byte]): Unit = {
    md.reset()
    if (prefix != null) md.update(prefix)
    var first = true
    var j = 0
    while (j < k) {
      val t = toks(i + j)
      if (t != null) {
        if (!first) md.update(' '.toByte)
        md.update(t)
        first = false
      }
      j += 1
    }
    md.digest(out, 0, 16)
  }

  /** MinHash + LSH bands fused: the (b, bh) rows of
    * [[graft.ops.DedupOps.minhashBands]] as ONE per-row array — no
    * shingle explode, no signature aggregation, no corpus exchange.
    */
  def minhashBands(arr: ArrayData, numHashes: Int, bandSize: Int,
                   shingleSize: Int): ArrayData = {
    val toks = tokenBytes(arr)
    val nSh = toks.length - shingleSize + 1
    if (nSh <= 0) return new GenericArrayData(Array.empty[Any])
    val md = md5tl.get()
    val prefixes = seedPrefixes(numHashes)
    val mins = new Array[Byte](numHashes * 16)
    val cand = new Array[Byte](16)
    var s = 0
    while (s < numHashes) {
      var i = 0
      while (i < nSh) {
        shingleDigest(md, prefixes(s), toks, i, shingleSize, cand)
        if (i == 0 || cmp16(cand, 0, mins, s * 16) < 0)
          System.arraycopy(cand, 0, mins, s * 16, 16)
        i += 1
      }
      s += 1
    }
    val nBands = numHashes / bandSize
    val rows = new Array[Any](nBands)
    var b = 0
    while (b < nBands) {
      md.reset()
      var j = 0
      while (j < bandSize) {
        if (j > 0) md.update('|'.toByte)
        md.update(hex(mins, (b * bandSize + j) * 16))
        j += 1
      }
      md.digest(cand, 0, 16)
      rows(b) = InternalRow(b.toLong, UTF8String.fromBytes(hex(cand, 0)))
      b += 1
    }
    new GenericArrayData(rows)
  }

  /** SimHash fused: the 60-bit signature of
    * [[graft.ops.DedupOps.simhashSignatures]] as one per-row long —
    * no token explode, no 60-column vote aggregation, no exchange.
    * A null token votes -1 on every bit (the CASE WHEN NULL ELSE -1
    * behavior of the composable form).
    */
  def simhash60(arr: ArrayData, bits: Int): Long = {
    val toks = tokenBytes(arr)
    val md = md5tl.get()
    val d = new Array[Byte](16)
    val votes = new Array[Int](bits)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (t == null) {
        var j = 0
        while (j < bits) { votes(j) -= 1; j += 1 }
      } else {
        md.reset(); md.update(t); md.digest(d, 0, 16)
        // conv(substr(md5, 1, 15), 16, 10): first 15 hex nibbles =
        // first 8 digest bytes big-endian >>> 4
        var th = 0L
        var j = 0
        while (j < 8) { th = (th << 8) | (d(j) & 0xffL); j += 1 }
        th >>>= 4
        j = 0
        while (j < bits) {
          votes(j) += (if (((th >> j) & 1L) == 1L) 1 else -1)
          j += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < bits) { if (votes(j) > 0) sig |= 1L << j; j += 1 }
    sig
  }

  /** Winnowing fused: the distinct window-minimum fingerprint set of
    * [[graft.ops.DedupOps.winnowedFingerprints]] as one per-row array
    * of hex strings — the k-shingle hashes and the w-window minima in
    * one pass (monotonic deque, O(n)) over digest BYTES.
    */
  def winnowFps(arr: ArrayData, k: Int, w: Int): ArrayData = {
    val toks = tokenBytes(arr)
    val nSh = toks.length - k + 1
    val nWin = nSh - w + 1
    if (toks.length < k + w - 1 || nWin <= 0)
      return new GenericArrayData(Array.empty[Any])
    val md = md5tl.get()
    val hs = new Array[Byte](nSh * 16)
    val tmp = new Array[Byte](16)
    var i = 0
    while (i < nSh) {
      shingleDigest(md, null, toks, i, k, tmp)
      System.arraycopy(tmp, 0, hs, i * 16, 16)
      i += 1
    }
    // array_min over each w-window, ties keeping ANY equal minimum
    // (equal digests hex-encode identically, so the selected VALUE is
    // identical either way); dedup preserving first occurrence like
    // array_distinct
    val seen = new java.util.LinkedHashSet[String]()
    val deque = new java.util.ArrayDeque[Int]()
    i = 0
    while (i < nSh) {
      while (!deque.isEmpty && deque.peekFirst() <= i - w) deque.pollFirst()
      while (!deque.isEmpty && cmp16(hs, deque.peekLast() * 16, hs, i * 16) >= 0)
        deque.pollLast()
      deque.addLast(i)
      if (i >= w - 1)
        seen.add(new String(hex(hs, deque.peekFirst() * 16),
          java.nio.charset.StandardCharsets.US_ASCII))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    i = 0
    while (it.hasNext) { out(i) = UTF8String.fromString(it.next()); i += 1 }
    new GenericArrayData(out)
  }
}

/** `minhash_bands(tokens, numHashes, bandSize, shingleSize)` →
  * array<struct<b: long, bh: string>> — [[SignatureImpl.minhashBands]].
  */
case class MinhashBands(child: Expression, numHashes: Int, bandSize: Int,
                        shingleSize: Int)
    extends UnaryExpression {
  require(numHashes % bandSize == 0,
    s"numHashes ($numHashes) must be a multiple of bandSize ($bandSize)")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("b", LongType, nullable = false),
    StructField("bh", StringType, nullable = false))), containsNull = false)
  override def prettyName: String = "minhash_bands"
  override protected def nullSafeEval(input: Any): Any =
    SignatureImpl.minhashBands(input.asInstanceOf[ArrayData],
      numHashes, bandSize, shingleSize)
  // real codegen (round-17): CodegenFallback disabled WholeStageCodegen
  // for every projection carrying a signature — the work already lives
  // in a JVM helper, so generation is one static call
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SignatureImpl.minhashBands(" +
        s"$c, $numHashes, $bandSize, $shingleSize);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `simhash60(tokens)` → long — [[SignatureImpl.simhash60]]. Returns
  * null only for a null token array; callers drop token-LESS docs
  * before this expression (the batch form's explode+groupBy emitted no
  * row for them).
  */
case class Simhash60(child: Expression, bits: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash60"
  override protected def nullSafeEval(input: Any): Any =
    SignatureImpl.simhash60(input.asInstanceOf[ArrayData], bits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SignatureImpl.simhash60($c, $bits);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `winnow_fps(tokens, k, w)` → array<string> —
  * [[SignatureImpl.winnowFps]].
  */
case class WinnowFps(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "winnow_fps"
  override protected def nullSafeEval(input: Any): Any =
    SignatureImpl.winnowFps(input.asInstanceOf[ArrayData], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SignatureImpl.winnowFps($c, $k, $w);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column constructors for the signature expressions above. */
object SignatureFunctions {
  def minhashBands(tokens: Column, numHashes: Int, bandSize: Int,
                   shingleSize: Int): Column =
    column(MinhashBands(expression(tokens), numHashes, bandSize, shingleSize))
  def simhash60(tokens: Column, bits: Int): Column =
    column(Simhash60(expression(tokens), bits))
  def winnowFps(tokens: Column, k: Int, w: Int): Column =
    column(WinnowFps(expression(tokens), k, w))
}
