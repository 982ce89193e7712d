package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftPlanBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native forms of the shared word tokenizer and the arrays derived
  * from it. Each replaces a lambda (higher-order-function) SQL form:
  * those evaluate as `CodegenFallback` expressions, so every projection
  * carrying one split its whole-stage-codegen stage and paid an
  * interpreted lambda call per element. These are one static call in
  * generated code. Bit-identity with the lambda forms, in both the
  * interpreted and the generated path, is pinned in TokenFunctionsSpec.
  *
  * Malformed UTF-8: the lambda forms split through `java.lang.String`
  * (`UTF8String.split` decodes, splits, re-encodes), so a malformed
  * byte sequence comes back as U+FFFD the way Java's decoder replaces
  * it. The delimiters here are ASCII bytes, which never occur inside a
  * multi-byte sequence and end any malformed one, so decoding each
  * non-ASCII segment on its own gives the same bytes.
  */
private[graft] object TokenImpl {
  private val empty = new GenericArrayData(Array.empty[Any])

  /** Java's `\s` set, spelled out: space, \t, \n, \x0B, \f, \r. */
  @inline private def isWs(b: Byte): Boolean =
    b == ' ' || (b >= '\t' && b <= '\r')

  /** `bytes[from, until)` as a string, round-tripped through Java's
    * decoder when it holds any non-ASCII byte (see the object doc).
    */
  private def segment(bytes: Array[Byte], from: Int, until: Int): UTF8String = {
    var i = from
    while (i < until && bytes(i) >= 0) i += 1
    if (i == until) UTF8String.fromBytes(bytes, from, until - from)
    else UTF8String.fromString(
      new String(bytes, from, until - from, StandardCharsets.UTF_8))
  }

  /** `filter(split(trim(text), '[ \t\n\x0B\f\r]+'), x -> x <> '')`:
    * the maximal runs of non-whitespace bytes. `trim` removes only
    * spaces, which the split drops anyway.
    */
  def wsTokens(text: UTF8String): ArrayData = {
    val b = text.getBytes
    val out = new java.util.ArrayList[UTF8String]()
    var i = 0
    while (i < b.length) {
      while (i < b.length && isWs(b(i))) i += 1
      val start = i
      while (i < b.length && !isWs(b(i))) i += 1
      if (i > start) out.add(segment(b, start, i))
    }
    new GenericArrayData(out.toArray)
  }

  /** `filter(transform(split(text, '\n'), x -> trim(x)), x -> x <> '')`:
    * the lines of `text`, each stripped of leading and trailing spaces,
    * blank ones dropped.
    */
  def nonBlankLines(text: UTF8String): ArrayData = {
    val b = text.getBytes
    val out = new java.util.ArrayList[UTF8String]()
    var start = 0
    while (start <= b.length) {
      var end = start
      while (end < b.length && b(end) != '\n') end += 1
      var s = start
      var e = end
      while (s < e && b(s) == ' ') s += 1
      while (e > s && b(e - 1) == ' ') e -= 1
      if (e > s) out.add(segment(b, s, e))
      start = end + 1
    }
    new GenericArrayData(out.toArray)
  }

  /** `case when size(w) >= n then transform(sequence(0, size(w) - n),
    * i -> concat_ws(' ', slice(w, i + 1, n))) else array() end`: the
    * word n-grams of `w`, null elements skipped by the join as
    * `concat_ws` skips them; a null or too-short `w` gives `[]`.
    */
  def wordShingles(w: ArrayData, n: Int): ArrayData = {
    if (w == null || w.numElements() < n) return empty
    val toks = SignatureImpl.tokenBytes(w)
    val out = new Array[Any](toks.length - n + 1)
    var i = 0
    while (i < out.length) {
      var len = 0
      var parts = 0
      var j = i
      while (j < i + n) {
        if (toks(j) != null) { len += toks(j).length; parts += 1 }
        j += 1
      }
      val g = new Array[Byte](len + math.max(parts - 1, 0))
      var p = 0
      j = i
      while (j < i + n) {
        val t = toks(j)
        if (t != null) {
          if (p > 0) { g(p) = ' '; p += 1 }
          System.arraycopy(t, 0, g, p, t.length)
          p += t.length
        }
        j += 1
      }
      out(i) = UTF8String.fromBytes(g)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** `filter(w, x -> x in (words))`: the elements of `w` in `words`,
    * in order; null elements never match.
    */
  def tokensIn(w: ArrayData, words: java.util.Set[UTF8String]): ArrayData = {
    val out = new java.util.ArrayList[UTF8String]()
    var i = 0
    while (i < w.numElements()) {
      if (!w.isNullAt(i)) {
        val t = w.getUTF8String(i)
        if (words.contains(t)) out.add(t)
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** `aggregate(w, 0, (acc, x) -> acc + length(x))`: the total
    * character count of `w`; null if any element is null.
    */
  def tokenChars(w: ArrayData): java.lang.Integer = {
    var acc = 0
    var i = 0
    while (i < w.numElements()) {
      if (w.isNullAt(i)) return null
      acc += w.getUTF8String(i).numChars()
      i += 1
    }
    acc
  }
}

/** `ws_tokens(text)` → array<string> — [[TokenImpl.wsTokens]]. */
case class WsTokens(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "ws_tokens"
  override protected def nullSafeEval(input: Any): Any =
    TokenImpl.wsTokens(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenImpl.wsTokens($c);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `nonblank_lines(text)` → array<string> — [[TokenImpl.nonBlankLines]]. */
case class NonBlankLines(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "nonblank_lines"
  override protected def nullSafeEval(input: Any): Any =
    TokenImpl.nonBlankLines(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenImpl.nonBlankLines($c);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `word_shingles(w, n)` → array<string> — [[TokenImpl.wordShingles]].
  * Never null: a null `w` has no shingles.
  */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n > 0, s"shingle size must be positive: $n")
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "word_shingles"
  override def eval(input: InternalRow): Any =
    TokenImpl.wordShingles(child.eval(input).asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  graft.functions.TokenImpl.wordShingles(
      |  ${c.isNull} ? null : ${c.value}, $n);""".stripMargin,
      isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `tokens_in(w, words)` → array<string> — [[TokenImpl.tokensIn]]. */
case class TokensIn(child: Expression, words: Seq[String])
    extends UnaryExpression with ExpectsInputTypes {
  @transient private lazy val wordSet: java.util.Set[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "tokens_in"
  override protected def nullSafeEval(input: Any): Any =
    TokenImpl.tokensIn(input.asInstanceOf[ArrayData], wordSet)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val set = ctx.addReferenceObj("words", wordSet, "java.util.Set")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenImpl.tokensIn($c, $set);")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `token_chars(w)` → int — [[TokenImpl.tokenChars]]. */
case class TokenChars(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "token_chars"
  override protected def nullSafeEval(input: Any): Any =
    TokenImpl.tokenChars(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("chars")
      s"""java.lang.Integer $r = graft.functions.TokenImpl.tokenChars($c);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r; }""".stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column constructors for the token expressions above. */
object TokenFunctions {
  def wsTokens(text: Column): Column = column(WsTokens(expression(text)))
  def nonBlankLines(text: Column): Column = column(NonBlankLines(expression(text)))
  def wordShingles(w: Column, n: Int): Column = column(WordShingles(expression(w), n))
  def tokensIn(w: Column, words: Seq[String]): Column =
    column(TokensIn(expression(w), words))
  def tokenChars(w: Column): Column = column(TokenChars(expression(w)))
}
