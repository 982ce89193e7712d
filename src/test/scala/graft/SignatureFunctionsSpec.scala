package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.DedupOps

/** Round-16 optimization gate: the fused native signature expressions
  * (graft.functions.{MinhashBands, Simhash60, WinnowFps}) must be
  * BIT-IDENTICAL to the composable Catalyst forms they replaced —
  * those forms are reconstructed verbatim here (the pre-round-16
  * DedupOps bodies) and compared row-for-row on the real fixture
  * corpus plus adversarial edge docs.
  */
class SignatureFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private val tokensExpr =
    "filter(split(trim(text), '[ \\\\t\\\\n\\\\x0B\\\\f\\\\r]+'), x -> x <> '')"
  private def shingleExpr(n: Int): String =
    s"""case when size(w) >= $n
       |  then transform(sequence(0, size(w) - $n),
       |                 i -> concat_ws(' ', slice(w, i + 1, $n)))
       |  else array() end""".stripMargin

  /** The corpus under test: the fixture documents plus planted edge
    * docs — empty text, whitespace-only, single token, exactly one
    * shingle, repeated tokens (vote multiplicity), and a doc shorter
    * than one winnow window.
    */
  private def corpus: DataFrame =
    graft.io.Tables.parquet(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
      .unionByName(Seq(
        900001L -> "",
        900002L -> "   \t \n ",
        900003L -> "lonely",
        900004L -> "exactly three tokens",
        900005L -> "rep rep rep rep rep rep rep rep",
        900006L -> "a b c d e f g",
        900007L -> "x y z x y z x y z x y z pad tail more words here"
      ).toDF("doc_id", "text"))

  /** Pre-round-16 minhashBands: explode + groupBy-min signature, band
    * structs over the hex minima.
    */
  private def legacyMinhashBands(documents: DataFrame, numHashes: Int = 12,
                                 bandSize: Int = 2, shingleSize: Int = 3): DataFrame = {
    val sig = documents
      .withColumn("w", expr(tokensExpr))
      .select(col("doc_id"), explode(expr(this.shingleExpr(shingleSize))).as("g"))
      .groupBy("doc_id")
      .agg(
        min(md5(concat(lit("0"), lit(":"), col("g")))).as("h0"),
        (1 until numHashes).map(s =>
          min(md5(concat(lit(s.toString), lit(":"), col("g")))).as(s"h$s")): _*)
    val nBands = numHashes / bandSize
    val bandCols = (0 until nBands).map { b =>
      val slots = (b * bandSize until (b + 1) * bandSize).map(s => s"h$s")
      s"struct(${b}L as b, md5(concat_ws('|', ${slots.mkString(", ")})) as bh)"
    }
    sig.select(col("doc_id"),
      explode(expr(s"array(${bandCols.mkString(", ")})")).as("band"))
      .select(col("doc_id"), col("band.b").as("b"), col("band.bh").as("bh"))
  }

  /** Pre-round-16 simhashSignatures: token explode + 60 vote sums. */
  private def legacySimhash(documents: DataFrame, bits: Int = 60): DataFrame = {
    val votes = documents
      .select(col("doc_id"), explode(expr(tokensExpr)).as("tok"))
      .select(col("doc_id"),
        expr("cast(conv(substr(md5(tok), 1, 15), 16, 10) as bigint)").as("th"))
      .groupBy("doc_id")
      .agg(
        sum(expr("case when ((th >> 0) & 1) = 1 then 1 else -1 end")).as("v0"),
        (1 until bits).map(j =>
          sum(expr(s"case when ((th >> $j) & 1) = 1 then 1 else -1 end")).as(s"v$j")): _*)
    val assemble = (0 until bits)
      .map(j => s"(case when v$j > 0 then ${1L << j}L else 0L end)")
      .mkString(" + ")
    votes.select(col("doc_id"), expr(s"cast($assemble as bigint)").as("simhash"))
  }

  /** Pre-round-16 winnowedFingerprints: transform/slice/array_min. */
  private def legacyWinnow(documents: DataFrame, k: Int = 5, w: Int = 4): DataFrame =
    documents
      .withColumn("w", expr(tokensExpr))
      .filter(expr(s"size(w) >= ${k + w - 1}"))
      .withColumn("hs", expr(
        s"transform(sequence(0, size(w) - $k), i -> md5(concat_ws(' ', slice(w, i + 1, $k))))"))
      .select(col("doc_id"), explode(expr(
        s"array_distinct(transform(sequence(0, size(hs) - $w), p -> array_min(slice(hs, p + 1, $w))))"))
        .as("fp"))

  private def assertSameRows(fused: DataFrame, legacy: DataFrame): Unit = {
    assert(fused.exceptAll(legacy).isEmpty &&
      legacy.exceptAll(fused).isEmpty,
      "fused and legacy signature rows differ")
  }

  test("fused minhash_bands is bit-identical to the explode+groupBy form") {
    assertSameRows(DedupOps.minhashBands(corpus), legacyMinhashBands(corpus))
  }

  test("fused minhash_bands matches legacy under a non-default geometry") {
    assertSameRows(
      DedupOps.minhashBands(corpus, numHashes = 8, bandSize = 4, shingleSize = 2),
      legacyMinhashBands(corpus, numHashes = 8, bandSize = 4, shingleSize = 2))
  }

  test("fused simhash60 is bit-identical to the vote-sum form") {
    assertSameRows(DedupOps.simhashSignatures(corpus), legacySimhash(corpus))
  }

  test("fused winnow_fps is bit-identical to the transform/array_min form") {
    assertSameRows(DedupOps.winnowedFingerprints(corpus), legacyWinnow(corpus))
  }

  test("fused winnow_fps matches legacy under a non-default geometry") {
    val fused = corpus.select(col("doc_id"), explode(graft.functions.SignatureFunctions
      .winnowFps(graft.functions.TokenFunctions.wsTokens(col("text")), 3, 2)).as("fp"))
    assertSameRows(fused, legacyWinnow(corpus, k = 3, w = 2))
  }

  test("rowwise band form still equals the batch form (streaming contract)") {
    val fromRowwise = DedupOps.minhashBandsRowwise(corpus)
      .select("doc_id", "b", "bh")
    assertSameRows(DedupOps.minhashBands(corpus), fromRowwise)
  }
}
