package graft

import graft.ops.TextOps

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text").withColumn("lang", org.apache.spark.sql.functions.lit("xx"))

  test("langId discriminates real sentences by stopword profile") {
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog and the cat",
      2L -> "der schnelle braune fuchs springt und die katze ist nicht da",
      3L -> "le chat est dans la maison et les chiens sont la",
      4L -> "el perro y el gato es una historia que todos conocen",
      5L -> "zzz qqq www")
    val out = TextOps.langId(d).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "en")
    assert(out(2L) === "de")
    assert(out(3L) === "fr")
    assert(out(4L) === "es")
    assert(out(5L) === "und")
  }

  test("topTokensGate is empty on the fixture and under genuine sketch eviction") {
    val fixture = graft.io.Tables.parquet(spark, sf, "documents")
    assert(TextOps.topTokensGate(fixture).collect().isEmpty)
    // a skewed planted corpus with far more distinct tokens than map
    // slots: the sketch must evict, and the heavy hitters' estimates
    // must still land inside the eps·n band (violations stay empty)
    val skewed = docs(1L -> (("hot " * 500) +
      (1 to 400).map(i => s"cold$i").mkString(" ")))
    assert(TextOps.topTokensGate(skewed, k = 3, maxTracked = 64)
      .collect().isEmpty)
  }

  test("redactPii counts and replaces emails/phones, leaves clean text alone") {
    val d = docs(
      1L -> "write to alice.smith+x@sub.example.org or bob@ex.co today",
      2L -> "call +49-151-1234567 or +33-612-9876543 now",
      3L -> "no pii here at all")
    val out = TextOps.redactPii(d).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Int]("n_emails") === 2)
    assert(out(1L).getAs[Int]("n_phones") === 0)
    assert(out(2L).getAs[Int]("n_phones") === 2)
    // the fingerprint is of the REDACTED text
    val fp = java.security.MessageDigest.getInstance("MD5")
      .digest("write to [EMAIL] or [EMAIL] today".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(out(1L).getAs[String]("redacted_fp") === fp)
    // clean text fingerprints unchanged
    val cleanFp = java.security.MessageDigest.getInstance("MD5")
      .digest("no pii here at all".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(out(3L).getAs[String]("redacted_fp") === cleanFp)
  }

  test("repetitionStats flags duplicate lines and dominant bigrams") {
    val d = docs(
      1L -> "spam line\nspam line\nspam line\nunique line",
      2L -> "one two three four five six",
      3L -> "buy now buy now buy now buy now")
    val out = TextOps.repetitionStats(d).collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getDouble(2), r.getDouble(3)))).toMap
    // doc 1: 4 lines, 2 duplicates of "spam line"
    assert(out(1L)._1 === 4)
    assert(out(1L)._2 === 0.5)
    // doc 2: no repetition — every bigram unique (1/5 of 5 bigrams)
    assert(out(2L)._2 === 0.0)
    assert(out(2L)._3 === 0.2)
    // doc 3: "buy now" dominates — 4 of 7 bigrams
    assert(out(3L)._3 === BigDecimal(4.0 / 7)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("tfIdf: common terms score zero, rare terms score tf·ln(N/df)") {
    val d = docs(1L -> "apple banana apple", 2L -> "apple", 3L -> "cherry")
    val out = TextOps.tfIdf(d).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // "apple" in all... docs 1,2 of 3 → df=2; doc 1 has tf=2
    assert(out((1L, "apple")) === ((2L, 2L,
      BigDecimal(2 * math.log(3.0 / 2)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    // "banana" unique to doc 1 → ln(3)
    assert(out((1L, "banana")) === ((1L, 1L,
      BigDecimal(math.log(3.0)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    // a term in EVERY doc would score ln(1) = 0
    assert(out((3L, "cherry"))._3 === BigDecimal(math.log(3.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("termFrequency counts tokens per lang") {
    val d = Seq((1L, "a b a", "en"), (2L, "a", "de")).toDF("doc_id", "text", "lang")
    val out = TextOps.termFrequency(d).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out(("en", "a")) === 2L)
    assert(out(("en", "b")) === 1L)
    assert(out(("de", "a")) === 1L)
  }

  test("fingerprint is invariant to token order and duplication") {
    val d = docs(1L -> "alpha beta gamma", 2L -> "gamma beta alpha alpha")
    val fps = TextOps.fingerprint(d).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fps(1L) === fps(2L))
  }

  test("qualityScore fields are consistent") {
    val d = docs(1L -> "the cat sat.")
    val r = TextOps.qualityScore(d).collect().head
    assert(r.getAs[Int]("n_chars") === 12)
    assert(r.getAs[Int]("n_tokens") === 3)
    assert(r.getAs[Double]("punct_ratio") === 1.0 / 12)
    assert(r.getAs[Double]("stopword_ratio") === 1.0 / 3)
  }

  test("tokenCounts: BPE-ish segmentation counts glyph runs") {
    val d = docs(1L -> "abc12 de!")
    // ws tokens: [abc12, de!]; bpe: [abc][12][de][!]
    val r = TextOps.tokenCounts(d).collect().head
    assert(r.getAs[Int]("n_ws_tokens") === 2)
    assert(r.getAs[Int]("n_bpe_tokens") === 4)
  }

  test("benchmark contamination counts distinct shared 5-grams; short docs produce none") {
    // corpus doc 1 embeds the benchmark's exact 5-gram once (its two
    // 5-grams overlap the benchmark in one); doc 2 is under 5 tokens
    // (no grams at all); doc 3 shares nothing
    val corpus = docs(
      1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "one two three four",
      3L -> "totally different words appear here today")
    val bench = docs(7L -> "alpha beta gamma delta epsilon")
    val out = TextOps.benchmarkContamination(corpus, bench).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L))
    // repeated shared grams count DISTINCT once per doc
    val rep = docs(4L -> "alpha beta gamma delta epsilon zeta alpha beta gamma delta epsilon")
    val out2 = TextOps.benchmarkContamination(rep, bench).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out2 === Map(4L -> 1L))
  }

  test("chunking emits overlapping windows with a short tail and skips empty docs") {
    // 10 tokens, chunk 4, stride 3 → starts 0,3,6,9; the last two
    // windows are short (4,4,4,1 tokens); content md5 pins the slice
    val d = docs(1L -> "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9", 2L -> "   ")
    val out = TextOps.chunkDocuments(d, chunk = 4, stride = 3).collect()
      .filter(_.getLong(0) == 1L)
      .sortBy(_.getAs[Int]("chunk_idx"))
    assert(out.map(_.getAs[Int]("start_tok")).toSeq === Seq(0, 3, 6, 9))
    assert(out.map(_.getAs[Int]("n_chunk_tok")).toSeq === Seq(4, 4, 4, 1))
    val md5First = java.security.MessageDigest.getInstance("MD5")
      .digest("t0 t1 t2 t3".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(out.head.getAs[String]("chunk_md5") === md5First)
    // whitespace-only doc → zero tokens → no chunks
    assert(TextOps.chunkDocuments(d, 4, 3).filter("doc_id = 2").count() === 0)
    // a doc shorter than one chunk still yields exactly one window
    val one = TextOps.chunkDocuments(docs(3L -> "a b"), chunk = 4, stride = 3)
    assert(one.count() === 1)
  }

  test("sequence packing windows the running token offset per (lang, shard)") {
    // shards = 1 → one ordered stream: n_tok 3, 2, 4; starts 0, 3, 5;
    // budget 4 → packs 0, 0, 1 (a doc belongs to the window its START
    // falls in, so doc 2 straddles the boundary but stays in pack 0)
    val d = docs(0L -> "a b c", 2L -> "d e", 4L -> "f g h i")
    val out = TextOps.packSequences(d, budget = 4, shards = 1).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tok"), r.getAs[Long]("pack_id"))).toMap
    assert(out === Map(0L -> (3L, 0L), 2L -> (2L, 0L), 4L -> (4L, 1L)))
    // shard separation: with 2 shards the odd/even streams pack
    // independently (each restarts its offset at zero)
    val d2 = docs(0L -> "a b c d e", 1L -> "f g h i j")
    val out2 = TextOps.packSequences(d2, budget = 4, shards = 2).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("pack_id")).toMap
    assert(out2 === Map(0L -> 0L, 1L -> 0L))
  }

  test("stripRepeatedLines keeps first occurrences in order and pins cleaned content") {
    import java.security.MessageDigest
    def md5hex(s: String) = MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val d = docs(
      1L -> "header\nbody one\nheader\nbody two\n\n  header  \nbody one",
      2L -> "only\nunique\nlines")
    val out = TextOps.stripRepeatedLines(d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_lines"), r.getAs[Int]("n_removed"),
          r.getAs[String]("clean_md5"))).toMap
    // doc 1: 6 non-empty trimmed lines, 3 repeats removed ("header" ×2,
    // "body one" ×1); survivors keep original order
    assert(out(1L) ===
      ((6, 3, md5hex("header\nbody one\nbody two"))))
    assert(out(2L) === ((3, 0, md5hex("only\nunique\nlines"))))
  }

  test("collocation lift rewards always-adjacent pairs over chance co-occurrence") {
    // "pa pb" always adjacent (5×); "xa"/"xb" frequent but never a pair
    val glue = (1 to 5).map(_ => "pa pb").mkString(" x ")
    val noise = (1 to 10).map(i => s"xa f$i xb").mkString(" ")
    val out = TextOps.collocations(docs(1L -> s"$glue $noise"), minCount = 5,
        topK = 5)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(out.contains("pa pb"), out)
    assert(!out.contains("xa xb")) // never adjacent → no bigram at all
    // perfect collocation: c_ab = c_a = c_b = 5 → lift = N / 5
    val n = 5 * 2 + 4 + 10 * 3 // pa/pb pairs + 'x' glue + noise triples
    assert(out("pa pb") === n / 5.0)
  }

  test("histogram clamps overflow into the top bin and bins exactly") {
    import org.apache.spark.sql.functions.col
    val vals = Seq(0.0, 24999.99, 25000.0, 49999.0, 1e9)
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val df = vals.toDF("id", "v")
    val out = graft.ops.Relational.histogram(df, "v", width = 25000.0, nBins = 3)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out === Map(0 -> ((2L, 0.0)), 1 -> ((2L, 25000.0)), 2 -> ((1L, 50000.0))))
  }

  test("vocabulary ranks by frequency then token, ids contiguous, coverage sums to 1") {
    val corpus = docs(
      1L -> "b b b a a c",
      2L -> "a b d")
    val out = TextOps.vocabulary(corpus).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    // b:4, a:3, c:1, d:1 — tie c/d broken lexicographically
    assert(out.map(t => (t._1, t._2, t._3)).toSeq ===
      Seq((1L, "b", 4L), (2L, "a", 3L), (3L, "c", 1L), (4L, "d", 1L)))
    val fracs = out.map(_._4).toSeq
    assert(fracs === Seq(4 / 9.0, 7 / 9.0, 8 / 9.0, 1.0))
    // minCount trims a rank-prefix-preserving tail; coverage stays
    // corpus-global, so the cutoff exposes the OOV rate (1 - 7/9)
    val trimmed = TextOps.vocabulary(corpus, minCount = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(3))).sortBy(_._1).toSeq
    assert(trimmed === Seq((1L, "b", 4 / 9.0), (2L, "a", 7 / 9.0)))
  }

  test("encodeWithVocabulary counts OOV against the trimmed vocab and digests ids") {
    val corpus = docs(
      1L -> "b b b a a c",
      2L -> "a b d")
    // vocab ranks b:1, a:2, c:3, d:4; trim at 2 → c and d are OOV
    val out = TextOps.encodeWithVocabulary(corpus, vocabSize = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // doc 1: 6 tokens, c OOV; ids 1+1+1+2+2 = 7
    assert(out(1L) === ((6L, 1L, 7L)))
    // doc 2: 3 tokens, d OOV; ids 2+1 = 3
    assert(out(2L) === ((3L, 1L, 3L)))
    // all-OOV doc: digest coalesces to 0, not null
    val oov = TextOps.encodeWithVocabulary(docs(1L -> "x y", 2L -> "z z z"),
        vocabSize = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(oov(1L) === ((2L, 2L, 0L))) // x, y rank below z (cnt 1 vs 3)
  }

  test("ngramNovelty scores unseen-gram fractions exactly; short docs drop out") {
    val corpus = docs(2L -> "a b c d e f g h")           // grams: abcde..defgh
    val batch = docs(
      1L -> "a b c d e f g h",                           // all grams known → 0
      3L -> "p q r s t u",                               // all new → 1
      5L -> "a b c d e x p q r s t",                     // 1 known of 7 grams
      7L -> "too short here")                            // < 5 tokens → no row
    val out = TextOps.ngramNovelty(batch, corpus)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) === ((4L, 0L, 0.0)))
    assert(out(3L) === ((2L, 2L, 1.0)))
    assert(out(5L) === ((7L, 6L, 6.0 / 7.0)))
    assert(!out.contains(7L))
  }

  test("keywordSearch ranks coordination over raw frequency, integer tie-breaks") {
    val corpus = docs(
      1L -> "alpha alpha alpha alpha alpha",  // one term, huge tf
      2L -> "alpha beta",                      // both terms, tf 1 each
      3L -> "alpha beta alpha",                // both terms, higher tf
      4L -> "gamma gamma",                     // no query term
      5L -> "alpha beta")                      // ties doc 2 exactly → id order
    val out = TextOps.keywordSearch(corpus, Map("q" -> Seq("alpha", "beta")), k = 4)
      .collect().map(r => r.getInt(1) -> r.getLong(2)).toMap
    // coordination first: docs with BOTH terms beat the tf-5 single-term doc
    assert(out === Map(1 -> 3L, 2 -> 2L, 3 -> 5L, 4 -> 1L))
    // duplicate terms in the query don't double-count matches
    val dup = TextOps.keywordSearch(corpus, Map("q" -> Seq("alpha", "alpha")), k = 1)
      .collect().head
    assert(dup.getLong(3) === 1L) // n_terms counts DISTINCT matched terms
  }

  test("searchPostings over the persisted artifact matches keywordSearch exactly") {
    val corpus = docs(
      1L -> "alpha alpha alpha alpha alpha",
      2L -> "alpha beta",
      3L -> "alpha beta alpha",
      4L -> "gamma gamma",
      5L -> "alpha beta")
    val queries = Map("q1" -> Seq("alpha", "beta"), "q2" -> Seq("gamma"))
    val base = java.nio.file.Files.createTempDirectory("graft-postings-")
    try {
      val scope = graft.core.Scopes.create(spark, base.toString)
      TextOps.savePostings(corpus, scope, "p")
      def key(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4))
      val direct = TextOps.keywordSearch(corpus, queries, k = 4)
        .collect().map(key).sorted
      val probed = TextOps.searchPostings(
          TextOps.loadPostings(spark, scope, "p"), queries, k = 4)
        .collect().map(key).sorted
      assert(probed === direct)
      assert(direct.nonEmpty)
      // incremental maintenance: build from half, append the rest —
      // the merged artifact must answer for the FULL corpus
      TextOps.savePostings(corpus.filter($"doc_id" % 2 === 0), scope, "p2")
      TextOps.appendPostings(corpus.filter($"doc_id" % 2 === 1), scope, "p2")
      val appended = TextOps.searchPostings(
          TextOps.loadPostings(spark, scope, "p2"), queries, k = 4)
        .collect().map(key).sorted
      assert(appended === direct)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("modelQualityGate reproduces the weighted logit and gates at 0") {
    val d = docs(
      1L -> ("the cat and the dog is in a house of many words " * 10), // fluent
      2L -> "!!! ??? ... ;;; :::",                                     // punct junk
      3L -> "")                                                        // empty
    val out = TextOps.modelQualityGate(d).collect()
      .map(r => r.getLong(0) -> r).toMap
    val feats = TextOps.qualityScore(d).collect()
      .map(r => r.getLong(0) -> r).toMap
    def expected(id: Long): Double = {
      val f = feats(id)
      def dbl(c: String) = if (f.isNullAt(f.fieldIndex(c))) 0.0
        else f.getAs[Double](c)
      val logit = -0.5 + 0.002 * math.min(f.getAs[Int]("n_tokens"), 1000) +
        1.2 * dbl("stopword_ratio") - 3.0 * dbl("punct_ratio") +
        0.1 * dbl("avg_token_len")
      BigDecimal(logit).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(out(1L).getAs[Double]("logit") === expected(1L))
    assert(out(1L).getAs[Boolean]("kept"))
    assert(out(2L).getAs[Double]("logit") === expected(2L))
    assert(!out(2L).getAs[Boolean]("kept")) // pure punctuation scores below 0
    // empty doc: n_tokens 0 but defined → a finite (negative) logit
    assert(out(3L).getAs[Double]("logit") === expected(3L))
    assert(!out(3L).getAs[Boolean]("kept"))
  }

  test("bigramLmScore: hand-computed smoothed fixed-point scores") {
    val d = docs(1L -> "a b", 2L -> "a b", 3L -> "a c", 4L -> "z")
    // model: cu(a)=3, cb(a,b)=2, cb(a,c)=1; V = 65536
    val fp = (cb: Long, cu: Long) =>
      math.round(1e6 * ((cb + 1).toDouble / (cu + 65536).toDouble))
    val out = TextOps.bigramLmScore(d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("n_oov"),
          r.getAs[Long]("score_fp")))).toMap
    assert(out(1L) === ((1L, 0L, fp(2, 3))))
    assert(out(2L) === ((1L, 0L, fp(2, 3))))
    assert(out(3L) === ((1L, 0L, fp(1, 3))))
    assert(!out.contains(4L))   // a 1-token doc has no transitions
  }

  test("bigramLmScore: model truncation marks dropped transitions OOV") {
    val d = docs(1L -> "a b a b a c")
    // bigrams in doc order: (a,b)x2, (b,a)x2, (a,c) — maxBigrams=1
    // keeps only the (count desc, gram asc) winner (a,b); the other
    // three transition instances score with cb=0 and count as OOV
    val out = TextOps.bigramLmScore(d, maxBigrams = 1).head()
    assert(out.getAs[Long]("n_bigrams") === 5L)
    assert(out.getAs[Long]("n_oov") === 3L)
    val fp = (cb: Long, cu: Long) =>
      math.round(1e6 * ((cb + 1).toDouble / (cu + 65536).toDouble))
    // cu: a=3, b=2, c=1 (unigram table is untruncated here)
    assert(out.getAs[Long]("score_fp") ===
      2 * fp(2, 3) + 2 * fp(0, 2) + fp(0, 3))
  }

  test("lmFloorCalibrate: exact percentile, and the v3 gate composes exactly") {
    import org.apache.spark.sql.functions.{col, expr}
    val fixture = graft.io.Tables.parquet(spark, sf, "documents")
    val row = TextOps.lmFloorCalibrate(fixture).head()
    val floor = row.getAs[Long]("floor_fp")
    val nDocs = row.getAs[Long]("n_docs")
    val nGated = row.getAs[Long]("n_gated")
    // brute-force percentile_disc over the same integer averages
    val avgs = TextOps.bigramLmScore(fixture)
      .select(expr("score_fp DIV n_bigrams").as("avg_fp"))
      .collect().map(_.getLong(0)).sorted
    val k = (avgs.length * 15 + 99) / 100
    assert(nDocs === avgs.length.toLong)
    assert(floor === avgs(k - 1))
    assert(nGated === avgs.count(_ < floor).toLong)
    assert(nGated < k && k.toLong <= nGated + avgs.count(_ == floor))
    // exact composition with the v3 gate: for integers,
    // avg_fp >= floor  ⟺  score_fp >= floor · n_bigrams
    val mismatch = TextOps.bigramLmScore(fixture).filter(
      (expr("score_fp DIV n_bigrams") >= floor) =!=
        (col("score_fp") >= col("n_bigrams") * floor))
    assert(mismatch.isEmpty)
  }

  test("stupidBackoffScore: exact ratios and backoff ladder") {
    val d = Seq((1L, "a b c"), (2L, "a b d"), (3L, "z z"), (4L, "q r s"))
      .toDF("doc_id", "text")
    def run(maxTri: Int, maxBi: Int) =
      TextOps.stupidBackoffScore(d, maxBigrams = maxBi, maxTrigrams = maxTri)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // untruncated: both trigrams hit the model, S = ct/cb(a,b) = 1/2
    val full = run(1 << 19, 1 << 18)
    assert(full(1L) === ((1L, 0L, 0L, 500000L)))
    assert(full(2L) === ((1L, 0L, 0L, 500000L)))
    assert(!full.contains(3L)) // a 2-token doc has no trigram
    // truncate the trigram table to 1 ((a,b,c) wins the total order)
    // and the bigram table to 2 ({ab, bc}): doc2's (b,d) context and
    // doc4's (r,s) both vanish → full unigram backoff
    // 0.4·0.4·cu(w3)/N with cu(d)=cu(s)=1, N=11 → round(1e6·0.16/11)
    val trunc = run(1, 2)
    assert(trunc(1L) === ((1L, 0L, 0L, 500000L)))
    assert(trunc(2L) === ((1L, 0L, 1L, 14545L)))
    assert(trunc(4L) === ((1L, 0L, 1L, 14545L)))
  }

  test("dsirWeights: target-vocabulary documents rank above foreign ones") {
    val d = Seq(
      (1L, "alpha beta alpha beta alpha", "tgt"),
      (2L, "alpha beta alpha", "tgt"),
      (3L, "gamma delta gamma delta", "other"),
      (4L, "alpha beta alpha beta", "other"), // target-looking raw doc
      (5L, "gamma delta gamma", "other"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.dsirWeights(d, "tgt").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def avg(id: Long): Double = out(id)._2.toDouble / out(id)._1
    // target-model-preferred transitions score above the 1e6 parity
    // line; foreign-vocabulary transitions fall below it
    assert(avg(4L) > 1e6, s"doc4 ${avg(4L)}")
    assert(avg(1L) > 1e6 && avg(2L) > 1e6)
    assert(avg(3L) < 1e6 && avg(5L) < 1e6)
    assert(out(4L)._2 > out(3L)._2)
    // the selection tail: top-k raw-pool docs by weight — the
    // target-looking raw doc wins, target docs never selected
    val sel = TextOps.dsirSelect(d, "tgt", k = 2).collect()
    assert(sel.map(_.getLong(0)).toSeq === Seq(4L, 3L) ||
      sel.map(_.getLong(0)).toSeq === Seq(4L, 5L))
    assert(sel.head.getLong(0) === 4L)
    assert(sel.forall(_.getAs[String]("source") === "other"))
  }

  test("qualityFitTrajectory replays driver-side; trained gate is its final dot product") {
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    // driver-side replay over the collected feature table
    val feats = TextOps.qualityFitFeatures(docs).collect()
      .map(r => (r.getAs[Long]("y"),
        Array.tabulate(5)(d => r.getAs[Long](s"x$d")), r.getAs[Long]("doc_id")))
    // the planted teacher is linear in the training feature space, so
    // both classes exist and the data is separable by construction
    assert(feats.exists(_._1 == 1L) && feats.exists(_._1 == -1L))
    val w = Array.fill(5)(0L)
    val expected = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long)]
    for (r <- 1 to 3) {
      val s = Array.fill(5)(0L)
      feats.foreach { case (y, x, _) =>
        val margin = y * (0 until 5).map(d => w(d) * x(d)).sum
        if (margin <= 0L) for (d <- 0 until 5) s(d) += y * x(d)
      }
      for (d <- 0 until 5) w(d) += s(d)
      expected ++= (0 until 5).map(d => (r, d, w(d)))
    }
    val traj = TextOps.qualityFitTrajectory(docs).collect()
      .map(r => (r.getAs[Int]("round"), r.getAs[Int]("dim"), r.getAs[Long]("w")))
      .sortBy(t => (t._1, t._2))
    assert(traj.toSeq === expected.sortBy(t => (t._1, t._2)).toSeq)
    // the composed gate IS the final round's dot product, kept = score > 0
    val gate = TextOps.trainedQualityGate(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("score"), r.getAs[Boolean]("kept")))).toMap
    feats.foreach { case (_, x, id) =>
      val score = (0 until 5).map(d => w(d) * x(d)).sum
      assert(gate(id) === ((score, score > 0L)), s"doc $id")
    }
    // the fit moved off the origin: training actually happened
    assert(w.exists(_ != 0L))
  }

  test("qualityFitEval (q193): counts partition the corpus; final round matches the gate") {
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val eval = TextOps.qualityFitEval(docs).collect()
      .map(r => r.getAs[Int]("round") -> r).toMap
    assert(eval.keySet === Set(1, 2, 3))
    // the four cells partition the corpus at every round
    eval.values.foreach { r =>
      assert(r.getAs[Long]("tp") + r.getAs[Long]("fp")
        + r.getAs[Long]("fn") + r.getAs[Long]("tn") === 500L)
    }
    // the final round's cells ARE the gate's decisions joined to the
    // planted labels — train, serve, and eval read the same numbers
    val labels = TextOps.qualityFitFeatures(docs).select("doc_id", "y")
    val joined = TextOps.trainedQualityGate(docs)
      .join(labels, "doc_id").collect()
    val tp = joined.count(r =>
      r.getAs[Boolean]("kept") && r.getAs[Long]("y") == 1L).toLong
    val fp = joined.count(r =>
      r.getAs[Boolean]("kept") && r.getAs[Long]("y") == -1L).toLong
    val fn = joined.count(r =>
      !r.getAs[Boolean]("kept") && r.getAs[Long]("y") == 1L).toLong
    assert(eval(3).getAs[Long]("tp") === tp)
    assert(eval(3).getAs[Long]("fp") === fp)
    assert(eval(3).getAs[Long]("fn") === fn)
    // round 1 scores with the FIRST update's weights (w0 = 0 classifies
    // everything negative, so round 1's weights are the full label-mass
    // sum) — the curve starts somewhere real: both classes nonempty
    val pos = tp + fn
    assert(pos > 0L && pos < 500L)
  }

  test("fixedPointScore: swapping coefficients keeps the plan identical (q115 promise)") {
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    def gate(w: Seq[Long]) = TextOps.qualityScore(docs)
      .filter(TextOps.fixedPointScore(w) > 0L)
    // strict form: between two generic vectors (no 0/±1 entries, so
    // constant folding cannot simplify either side differently) the
    // plan differs ONLY in its literals. The scan's pushed DataFilters
    // entry is abbreviated at spark.sql.maxMetadataStringLength chars,
    // and where that cut falls depends on the literals' digit counts,
    // so the comparison lifts the limit and reads the whole filter.
    def shape(w: Seq[Long]): String = gate(w)
      .queryExecution.executedPlan.toString.replaceAll("-?[0-9]+", "N")
    spark.conf.set("spark.sql.maxMetadataStringLength", Int.MaxValue.toString)
    try assert(shape(Seq(-5000000L, 20000L, 12L, -30L, 17L)) ===
      shape(Seq(999L, -888L, 77L, 66L, 55L)))
    finally spark.conf.unset("spark.sql.maxMetadataStringLength")
    // and for the ACTUALLY-TRAINED vector vs the q115 teacher: the
    // operator tree is identical (same scan → project → filter; no
    // new join, no exchange) even where folding simplifies a *1 away
    val handSet = Seq(-5000000L, 20000L, 12L, -30L, 1L)
    val trained = TextOps.fitQualityWeights(docs)
    assert(trained !== handSet) // the swap is real, not a fixed point
    def nodes(w: Seq[Long]): Seq[String] =
      gate(w).queryExecution.executedPlan.collect { case p => p.nodeName }
    assert(nodes(trained) === nodes(handSet))
    assert(!nodes(trained).exists(_.contains("Exchange")))
  }

  test("fixedPointScore quantizes exactly like the training features") {
    import org.apache.spark.sql.functions.col
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val w = Seq(3L, -2L, 5L, 7L, -1L)
    val served = TextOps.qualityScore(docs)
      .select(col("doc_id"), TextOps.fixedPointScore(w).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // training reads x0..x4 from qualityFitFeatures; serving reads the
    // ratio columns directly — the integers must agree bit for bit
    TextOps.qualityFitFeatures(docs).collect().foreach { r =>
      val viaFeatures = (0 until 5)
        .map(d => w(d) * r.getAs[Long](s"x$d")).sum
      assert(served(r.getAs[Long]("doc_id")) === viaFeatures)
    }
  }
}
