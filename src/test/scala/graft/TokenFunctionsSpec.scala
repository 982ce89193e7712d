package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.TokenFunctions

/** The native tokenizer expressions (graft.functions.{WsTokens,
  * NonBlankLines, WordShingles, TokensIn, TokenChars}) must be
  * BIT-IDENTICAL to the lambda SQL forms they replaced — reconstructed
  * verbatim here — in the interpreted `eval` path and in generated
  * code, on the fixture corpus plus adversarial text: null, empty,
  * whitespace-only, every separator with leading and trailing runs,
  * non-ASCII and malformed UTF-8.
  */
class TokenFunctionsSpec extends SparkSpec {

  private val lambdaTokens =
    "filter(split(trim(text), '[ \\\\t\\\\n\\\\x0B\\\\f\\\\r]+'), x -> x <> '')"
  private val lambdaLines =
    "filter(transform(split(text, '\\n'), x -> trim(x)), x -> x <> '')"
  private def lambdaShingles(n: Int): String =
    s"""case when size(w) >= $n
       |  then transform(sequence(0, size(w) - $n),
       |                 i -> concat_ws(' ', slice(w, i + 1, $n)))
       |  else array() end""".stripMargin
  private val stopwords = Seq("the", "a", "and", "of", "to", "in", "is")
  private val lambdaStop =
    "filter(w, x -> x in ('the','a','and','of','to','in','is'))"
  private val lambdaChars = "aggregate(w, 0, (acc, x) -> acc + length(x))"

  private def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  /** Malformed UTF-8 on which Java's decoder (what the lambda forms'
    * split goes through) and `UTF8String.makeValid` disagree: each
    * holds an encoded surrogate (one U+FFFD from Java's decoder, three
    * from makeValid) beside other malformed forms.
    */
  private val malformed: Seq[Array[Byte]] = Seq(
    bytes(0x61, 0xe0, 0x80, 0x80, 0x20, 0xed, 0xa0, 0x80, 0x62), // overlong, surrogate
    bytes(0xf0, 0x9f, 0x98, 0x09, 0xed, 0xa0, 0x80),             // truncated 4-byte
    bytes(0x20, 0xc3, 0x0a, 0x0a, 0x80, 0xff, 0x20, 0xed, 0xb0, 0x80, 0x20))

  private val texts: Seq[Array[Byte]] = Seq(
    null, "", " ", "   \t \n ", "\u000B\f\r", "lonely",
    "exactly three tokens", "rep rep rep rep rep rep",
    "the cat is in a box and of to the end",
    "über café 的 是 😀 naïve",
    "line one\n\n  line two  \n\tline three\t\n   \nline one\n").map(s =>
      if (s == null) null else s.getBytes(UTF_8)) ++
    Seq(" ", "\t", "\n", "\u000B", "\f", "\r").flatMap(sep => Seq(
      s"${sep}lead", s"trail$sep", s"$sep$sep${sep}a$sep${sep}b$sep$sep",
      s"x$sep y ${sep}z").map(_.getBytes(UTF_8))) ++
    malformed

  /** (doc_id, text) with `text` cast from raw bytes — through an RDD,
    * so no optimizer rule folds the projections into a local relation
    * and the chosen evaluation path really runs.
    */
  private def edgeDocs: DataFrame = {
    val rows = texts.zipWithIndex.map { case (b, i) => Row(i.toLong, b) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
        StructType(Seq(StructField("doc_id", LongType),
          StructField("bin", BinaryType))))
      .select(col("doc_id"), col("bin").cast("string").as("text"))
  }

  private def corpus: DataFrame =
    graft.io.Tables.parquet(spark, sf, "documents")
      .select(col("doc_id"), col("text")).unionByName(edgeDocs)

  /** Token arrays with null elements, null arrays and short arrays. */
  private def arrays: DataFrame = {
    val ws: Seq[Seq[String]] = Seq(null, Seq(), Seq("a"), Seq("a", "b"),
      Seq("a", null, "b"), Seq(null, null, null), Seq(null, "the", "x", null),
      Seq("the", "a", "and", "of", "to", "in", "is", "The", ""),
      Seq("über", "café", "😀", "x y"))
    val rows = ws.zipWithIndex.map { case (w, i) => Row(i.toLong, w) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("w", ArrayType(StringType, containsNull = true)))))
  }

  /** Every row's `lambda` and `native` values must be equal (null-safe,
    * byte-wise); returns the row count so callers can check it is not
    * vacuous.
    */
  private def assertSame(df: DataFrame, lambda: Column, native: Column,
                         what: String): Long = {
    val cmp = df.select(col("doc_id"), lambda.as("l"), native.as("n"))
    val bad = cmp.filter(!(col("l") <=> col("n"))).collect()
    assert(bad.isEmpty, s"$what differs on ${bad.take(5).mkString("; ")}")
    cmp.count()
  }

  test("ws_tokens and nonblank_lines equal the lambda split in both paths") {
    inBothPaths { mode =>
      val n = assertSame(corpus, expr(lambdaTokens),
        TokenFunctions.wsTokens(col("text")), s"ws_tokens [$mode]")
      assert(n > texts.size)
      assertSame(corpus, expr(lambdaLines),
        TokenFunctions.nonBlankLines(col("text")), s"nonblank_lines [$mode]")
    }
  }

  test("word_shingles equals the lambda window for n = 1..5 in both paths") {
    inBothPaths { mode =>
      val toks = corpus.withColumn("w", expr(lambdaTokens))
      (1 to 5).foreach { n =>
        assertSame(toks, expr(lambdaShingles(n)),
          TokenFunctions.wordShingles(col("w"), n), s"shingles($n) [$mode]")
        assertSame(arrays, expr(lambdaShingles(n)),
          TokenFunctions.wordShingles(col("w"), n), s"shingles($n) nulls [$mode]")
      }
    }
  }

  test("tokens_in and token_chars equal the lambda filter and fold in both paths") {
    inBothPaths { mode =>
      val toks = corpus.withColumn("w", expr(lambdaTokens))
      Seq(toks, arrays).foreach { df =>
        assertSame(df, expr(lambdaStop),
          TokenFunctions.tokensIn(col("w"), stopwords), s"tokens_in [$mode]")
        assertSame(df, expr(lambdaChars),
          TokenFunctions.tokenChars(col("w")), s"token_chars [$mode]")
      }
    }
  }

  test("edge values: separators, null arrays and null elements") {
    val got = edgeDocs.select(col("doc_id"), TokenFunctions.wsTokens(col("text")))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(0L) == null)                               // null text
    assert(got(1L).isEmpty && got(3L).isEmpty && got(4L).isEmpty)
    assert(got(10L) == Seq("line", "one", "line", "two", "line", "three",
      "line", "one"))
    val sh = arrays.select(col("doc_id"),
        TokenFunctions.wordShingles(col("w"), 2).as("s"),
        TokenFunctions.tokenChars(col("w")).as("c"))
      .collect().map(r => r.getLong(0) -> (r.getSeq[String](1), r.get(2))).toMap
    assert(sh(0L) == (Seq(), null))                       // null w
    assert(sh(2L)._1 == Seq())                            // n > size(w)
    assert(sh(4L) == (Seq("a", "b"), null))               // null skipped
    assert(sh(5L)._1 == Seq("", ""))                      // all-null window
  }

  test("malformed UTF-8 follows Java's decoder, not UTF8String.makeValid") {
    // the inputs are chosen where the two replacement rules disagree,
    // so matching the lambda form pins the decoder actually used
    malformed.foreach { b =>
      val java = UTF8String.fromString(new String(b, UTF_8))
      assert(java != UTF8String.fromBytes(b).makeValid(),
        s"non-discriminating input ${b.mkString(",")}")
    }
    val bad = edgeDocs.filter(col("doc_id") >= texts.size - malformed.size)
    inBothPaths { mode =>
      assert(assertSame(bad, expr(lambdaTokens),
        TokenFunctions.wsTokens(col("text")), s"ws_tokens [$mode]") ==
        malformed.size)
      assertSame(bad, expr(lambdaLines),
        TokenFunctions.nonBlankLines(col("text")), s"nonblank_lines [$mode]")
    }
  }
}
