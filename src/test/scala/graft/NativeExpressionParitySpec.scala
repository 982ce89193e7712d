package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{HttpFunctions, SignatureFunctions, TokenFunctions, VecFx, VectorFunctions}
import graft.io.Tables
import graft.ops.HtmlOps

/** Every native expression built by its Column constructor gives the
  * same rows in the interpreted path (`eval`) and in whole-stage
  * generated code, on fixture rows plus a row of nulls and a row of
  * empty strings and arrays. The token expressions have their own,
  * finer table in TokenFunctionsSpec.
  */
class NativeExpressionParitySpec extends SparkSpec {

  private val n = 24

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("text", StringType),
    StructField("w", ArrayType(StringType)),
    StructField("emb", ArrayType(FloatType)),
    StructField("emb2", ArrayType(FloatType)),
    StructField("sq", ArrayType(LongType)),
    StructField("seeds", ArrayType(StructType(Seq(
      StructField("cid", IntegerType), StructField("sq", ArrayType(LongType)))))),
    StructField("payload", StringType),
    StructField("body", StringType),
    StructField("enc", StringType),
    StructField("chunked", StringType),
    StructField("warc", StringType),
    StructField("url", StringType),
    StructField("trap_url", StringType),
    StructField("path", StringType),
    StructField("href", StringType),
    StructField("host", StringType),
    StructField("pattern", StringType)))

  /** Rows `id` < n from the first n fixture documents and embeddings,
    * then a row of nulls (`id` = n) and a row of empty values
    * (`id` = n + 1). Built from an RDD, so no optimizer rule folds a
    * projection over it into a local relation and the chosen
    * evaluation path really runs.
    */
  private lazy val inputs: DataFrame = {
    val docs = Tables.parquet(spark, sf, "documents").orderBy("doc_id").limit(n)
    def column(df: DataFrame, c: Column): Seq[Any] =
      df.orderBy("doc_id").select(c).collect().map(_.get(0)).toSeq
    val text = column(docs, col("text"))
    val w = column(docs, TokenFunctions.wsTokens(col("text")))
    val payload = column(HtmlOps.plantedEncodedMessages(docs), col("payload"))
      .map(_.asInstanceOf[String])
    val warc = column(HtmlOps.plantedWarcCorpus(docs), col("warc"))
    val urls = HtmlOps.plantedDirtyUrlCorpus(docs)
    val url = column(urls, col("url"))
    val path = column(urls, HtmlOps.urlPath(col("url")))
    val trapUrl = column(HtmlOps.plantedTrapUrlCorpus(docs), col("url"))
    val patterns = HtmlOps.plantedRobotsRules(spark).select("prefix").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val emb = Tables.parquet(spark, sf, "embeddings").orderBy("vec_id")
      .limit(n + 1).select("embedding").collect().map(_.getSeq[Float](0)).toSeq
    def quantized(v: Seq[Float]): Seq[Long] = v.map(VecFx.quantize(_, 1L << 20))
    val seeds = (0 until 4).map(i => Row(i + 1, quantized(emb(3 * i))))
    val hrefs = Seq("../a/./b", "/p/1", "c?d=1", "#f", "https://o.example/z",
      "//cdn.example/q", "./", "../../..")
    val fixture = (0 until n).map { i =>
      val Array(head, body) = payload(i).split("\r\n\r\n", 2)
      val enc = "(?im)^content-encoding: *(\\S+)".r.findFirstMatchIn(head)
        .map(_.group(1)).getOrElse("")
      val t = text(i).asInstanceOf[String]
      // odd rows declare five characters more than they carry
      val chunked = f"${t.length + 5 * (i % 2)}%x\r\n$t\r\n0\r\n\r\n"
      Row(i.toLong, t, w(i), emb(i), emb(i + 1), quantized(emb(i + 1)), seeds,
        payload(i), body, enc, chunked, warc(i), url(i), trapUrl(i), path(i),
        hrefs(i % hrefs.size), s"w${i % 7}.example", patterns(i % patterns.size))
    }
    val nulls = Row.fromSeq(n.toLong +: Seq.fill(schema.size - 1)(null))
    val empties = Row.fromSeq((n + 1).toLong +: schema.fields.toSeq.tail.map(
      _.dataType match { case _: ArrayType => Seq.empty; case _ => "" }))
    spark.createDataFrame(
      spark.sparkContext.parallelize(fixture :+ nulls :+ empties, 2), schema)
  }

  private def cases: Seq[(String, Column)] = Seq(
    "vec_dot" -> VectorFunctions.vecDot(col("emb"), col("emb2")),
    "rolling_hash" -> VectorFunctions.rollingHash(col("text")),
    "vec_quantize_fx" -> VectorFunctions.vecQuantizeFx(col("emb"), 20),
    "vec_l2q" -> VectorFunctions.vecL2Q(col("emb"), col("sq"), 20),
    "l2q_argmin" -> VectorFunctions.l2qArgmin(col("emb"), col("seeds"), 20),
    "minhash_bands" -> SignatureFunctions.minhashBands(col("w"), 12, 2, 3),
    "simhash60" -> SignatureFunctions.simhash60(col("w"), 60),
    "winnow_fps" -> SignatureFunctions.winnowFps(col("w"), 5, 4),
    "http_frame" -> HttpFunctions.httpFrame(col("payload")),
    "warc_records" -> HttpFunctions.warcRecords(col("warc")),
    "chunked_decode" -> HttpFunctions.chunkedDecode(col("chunked")),
    "inflate_body" -> HttpFunctions.inflateBody(col("body"), col("enc")),
    "gzip_transport" -> HttpFunctions.gzipTransport(col("text")),
    "deflate_transport" -> HttpFunctions.deflateTransport(col("text")),
    "zstd_transport" -> HttpFunctions.zstdTransport(col("text")),
    "remove_dots" -> HtmlOps.removeDotSegments(col("path")),
    "canonical_url" -> HtmlOps.canonicalUrl(col("url")),
    "resolved_url" -> HtmlOps.resolvedUrl(col("href"), col("host"), col("path")),
    "url_path" -> HtmlOps.urlPath(col("url")),
    "url_trapped" -> HtmlOps.urlTrapped(col("trap_url")),
    "robots_match" -> HtmlOps.robotsMatch(col("path"), col("pattern")))

  test("every native constructor gives the same rows interpreted and generated") {
    val in = inputs
    val got = scala.collection.mutable.Map.empty[(String, String), Seq[Row]]
    inBothPaths { mode =>
      cases.foreach { case (name, c) =>
        got((name, mode)) = in.select(col("id"), c.as("v")).collect()
          .sortBy(_.getLong(0)).toSeq
      }
    }
    assert(cases.map(_._1).distinct.size === 21)
    cases.foreach { case (name, _) =>
      val (interpreted, generated) = (got((name, "NO_CODEGEN")), got((name, "CODEGEN_ONLY")))
      assert(interpreted.size === n + 2, name)
      assert(interpreted.exists(r => r.getLong(0) < n && !r.isNullAt(1)),
        s"$name is null on every fixture row")
      val diff = interpreted.zip(generated).filter { case (a, b) => a != b }
      assert(diff.isEmpty, s"$name differs between the paths: ${diff.take(3).mkString("; ")}")
    }
  }
}
