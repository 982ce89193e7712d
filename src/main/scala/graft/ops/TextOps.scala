package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TokenFunctions

/** Text-analysis operators for the training-data pipeline surface
  * (SURVEY §2.2 Q11, Q18-Q21): tokenization, term frequency, language
  * ID, quality scoring, fingerprinting.
  *
  * All operators are single-pass, partition-local expression pipelines
  * (whole-stage codegen, no UDFs); the only shuffles are the final
  * aggregations. Formulas are deliberately expressible in ANSI SQL so
  * the DuckDB oracle can replay them bit-for-bit.
  */
object TextOps {

  import OpsUtil.tokens

  /** Q11: term frequency per (lang, token). */
  def termFrequency(documents: DataFrame): DataFrame =
    documents
      .select(col("lang"), explode(tokens).as("token"))
      .groupBy("lang", "token")
      .agg(count(lit(1)).as("cnt"))

  /** Language-ID marker profile: (token, lang, weight). Small public
    * stopword lists; broadcast-joined against the token stream. The
    * marker table is tiny and static — at 100 TB this stays a
    * broadcast join, one shuffle on doc_id for the score aggregation.
    */
  val langMarkers: Seq[(String, String, Int)] = Seq(
    ("the", "en", 2), ("and", "en", 1), ("of", "en", 1), ("to", "en", 1),
    ("a", "en", 1), ("in", "en", 1), ("is", "en", 1),
    ("der", "de", 2), ("die", "de", 2), ("und", "de", 2), ("das", "de", 1),
    ("ist", "de", 1), ("nicht", "de", 1), ("ein", "de", 1),
    ("le", "fr", 2), ("la", "fr", 2), ("et", "fr", 2), ("les", "fr", 1),
    ("est", "fr", 1), ("une", "fr", 1), ("dans", "fr", 1),
    ("el", "es", 2), ("los", "es", 1), ("y", "es", 2), ("es", "es", 1),
    ("una", "es", 1), ("que", "es", 2),
    ("的", "zh", 2), ("是", "zh", 2), ("了", "zh", 2), ("在", "zh", 1))

  /** Q18: n-gram/stopword-heuristic language ID. Deterministic argmax
    * (score desc, lang asc); docs with no marker hits → 'und'.
    */
  def langId(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val markers = langMarkers.toDF("token", "cand_lang", "weight")
    val toks = documents.select(col("doc_id"), explode(tokens).as("token"))
    val scores = toks
      .join(broadcast(markers), "token")
      .groupBy("doc_id", "cand_lang")
      .agg(sum("weight").as("score"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("cand_lang").asc)
    val best = scores
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("cand_lang"), col("score"))
    documents.select("doc_id").join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cand_lang"), lit("und")).as("pred_lang"),
        coalesce(col("score"), lit(0L)).as("score"))
  }

  /** The English stopwords of [[qualityScore]]'s stopword ratio. */
  private val stopwords = Seq("the", "a", "and", "of", "to", "in", "is")

  /** Q19: per-document quality signals + a composite score.
    * Length/punctuation/stopword heuristics in pure expressions.
    */
  def qualityScore(documents: DataFrame): DataFrame =
    documents
      .withColumn("w", tokens)
      .withColumn("n_chars", length(col("text")))
      .withColumn("n_tokens", size(col("w")))
      .withColumn("punct_cnt",
        length(col("text")) - length(regexp_replace(col("text"), "[.,;:!?]", "")))
      .withColumn("stop_cnt", size(TokenFunctions.tokensIn(col("w"), stopwords)))
      .select(
        // nullif guards: empty/whitespace-only docs score NULL (same in
        // the oracle), never NaN/Infinity
        col("doc_id"), col("n_chars"), col("n_tokens"),
        (TokenFunctions.tokenChars(col("w")).cast("double") /
          expr("nullif(n_tokens, 0)")).as("avg_token_len"),
        expr("cast(punct_cnt as double) / nullif(n_chars, 0)").as("punct_ratio"),
        expr("cast(stop_cnt as double) / nullif(n_tokens, 0)").as("stopword_ratio"),
        expr("""round(0.5 * least(n_tokens, 100) / 100.0
              |  + 0.25 * (1.0 - cast(punct_cnt as double) / nullif(n_chars, 0))
              |  + 0.25 * least(4.0 * cast(stop_cnt as double) / nullif(n_tokens, 0), 1.0), 6)"""
          .stripMargin).as("quality"))

  /** Q115: MODEL-BASED quality gate — a linear (logistic) classifier
    * over the [[qualityScore]] signals, evaluated as one codegen'd
    * expression. The weights are fixed constants standing in for a
    * trained model's coefficients; swapping in real ones keeps the
    * plan identical. At 100 TB inference is then a pure per-row map —
    * no shuffle, no UDF, no model server in the hot path.
    *
    * Scoring stays in the LOGIT domain (kept ⇔ logit > 0 ⇔ p > 0.5
    * under a sigmoid), deliberately: libm `exp` varies across engines,
    * but this fixed-order double chain (every literal pinned to
    * DOUBLE on both sides) reproduces exactly, so the oracle matches
    * the rounded score bit-for-bit and the keep decision is made on
    * the rounded value.
    */
  def modelQualityGate(documents: DataFrame): DataFrame =
    qualityScore(documents)
      .select(col("doc_id"),
        expr("""round(-0.5D
              |  + 0.002D * least(n_tokens, 1000)
              |  + 1.2D * coalesce(stopword_ratio, 0.0D)
              |  - 3.0D * coalesce(punct_ratio, 0.0D)
              |  + 0.1D * coalesce(avg_token_len, 0.0D), 6)""".stripMargin)
          .as("logit"))
      .withColumn("kept", col("logit") > lit(0.0))

  /** Q181's training table: the [[qualityScore]] signals quantized to
    * 1e6 fixed point (x0 = 1 bias, x1 = capped token count, x2/x3/x4
    * = stopword / punct / avg-token-len micros) with the label
    * PLANTED by the q115 teacher in 1e7 fixed point: `m = -5000000·x0
    * + 20000·x1 + 12·x2 - 30·x3 + x4` is exactly `1e7 ×` q115's logit
    * over the quantized features, so `y = sign(m)` is linearly
    * separable in the training feature space BY CONSTRUCTION — the
    * fit must be able to recover a separator, and every quantity is
    * integral so the full gradient trajectory replays on any engine.
    */
  def qualityFitFeatures(documents: DataFrame): DataFrame = {
    val micros = (c: Column) =>
      round(coalesce(c, lit(0.0)) * lit(1000000.0)).cast("long")
    qualityScore(documents).select(
      col("doc_id"),
      lit(1L).as("x0"),
      least(col("n_tokens"), lit(1000)).cast("long").as("x1"),
      micros(col("stopword_ratio")).as("x2"),
      micros(col("punct_ratio")).as("x3"),
      micros(col("avg_token_len")).as("x4"))
      .withColumn("y",
        when(lit(-5000000L) * col("x0") + lit(20000L) * col("x1")
          + lit(12L) * col("x2") - lit(30L) * col("x3") + col("x4") > 0,
          lit(1L)).otherwise(lit(-1L)))
  }

  private val fitDims = 5

  /** The perceptron rounds of every quality fit. */
  private val fitIters = 3

  /** Q181: the quality classifier TRAINED IN-ENGINE — exact
    * fixed-point batch-perceptron gradient steps in the q114
    * Lloyd-step shape: each round broadcasts the 5-weight model as a
    * plan literal, a per-row map computes the margin `y·(w·x)`, and
    * one BOUNDED aggregation (five long sums per partition, whatever
    * the corpus size) folds the misclassified rows' `y·x` into the
    * update `w ← w + Σ y·x`. All-integer (unit learning rate,
    * fixed-point features), so the returned (round, dim, w)
    * trajectory is engine-exact and the oracle replays every round.
    * Overflow bound: with F = max|x| (~1e7 here) and N rows, |w_t| ≤
    * t·N·F and margins ≤ 5·t·N·F² — callers at larger N rescale the
    * feature fixed point, same contract as the q114 quantization.
    * Model state crosses the driver once per round at 5 longs — the
    * q117 per-round collect convention, bounded by model size.
    */
  def qualityFitTrajectory(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    // one materialization: every round reads the same feature rows
    // (lazy — round 1's aggregation job materializes the cut)
    val f = qualityFitFeatures(documents).localCheckpoint(eager = false)
    fitRounds(f).toDF("round", "dim", "w")
  }

  /** The fit loop over an ALREADY-MATERIALIZED feature table — shared
    * by the trajectory and the evaluation so the eval never pays the
    * feature pipeline twice.
    */
  private def fitRounds(f: DataFrame): Seq[(Int, Int, Long)] = {
    val w = Array.fill(fitDims)(0L)
    val traj = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long)]
    for (r <- 1 to fitIters) {
      val margin = col("y") * (0 until fitDims)
        .map(d => lit(w(d)) * col(s"x$d")).reduce(_ + _)
      val sums = f.filter(margin <= 0L)
        .agg(sum(col("y") * col("x0")),
          (1 until fitDims).map(d => sum(col("y") * col(s"x$d"))): _*)
        .head()
      for (d <- 0 until fitDims)
        w(d) += (if (sums.isNullAt(d)) 0L else sums.getLong(d))
      traj ++= (0 until fitDims).map(d => (r, d, w(d)))
    }
    traj.toSeq
  }

  /** The final-round weights of [[qualityFitTrajectory]] as a plain
    * model vector — 5 longs across the driver, the q117 model-sized
    * collect convention. This is the handle a flagship threads into
    * its gate chain (q185): fit once on the labeled set, broadcast
    * the literals everywhere the gate runs.
    */
  def fitQualityWeights(documents: DataFrame): Seq[Long] = {
    val wFinal = qualityFitTrajectory(documents)
      .filter(col("round") === fitIters)
      .collect().map(r => r.getAs[Int]("dim") -> r.getAs[Long]("w")).toMap
    (0 until fitDims).map(wFinal)
  }

  /** The fixed-point gate SCORE as a column over [[qualityScore]]
    * output — the q115 expression shape with the coefficients as plan
    * literals. The feature quantization here MUST stay bit-identical
    * to [[qualityFitFeatures]]' x0..x4 (same micros rounding, same
    * n_tokens cap): training and serving read the same numbers, the
    * invariant that makes the trained gate exact. Swapping one weight
    * vector for another changes only the literals — the plan is
    * IDENTICAL (the q115 scaladoc promise, pinned by TextOpsSpec).
    */
  def fixedPointScore(weights: Seq[Long]): Column = {
    require(weights.length == fitDims,
      s"expected $fitDims weights, got ${weights.length}")
    val micros = (c: Column) =>
      round(coalesce(c, lit(0.0)) * lit(1000000.0)).cast("long")
    lit(weights(0)) * lit(1L) +
      lit(weights(1)) * least(col("n_tokens"), lit(1000)).cast("long") +
      lit(weights(2)) * micros(col("stopword_ratio")) +
      lit(weights(3)) * micros(col("punct_ratio")) +
      lit(weights(4)) * micros(col("avg_token_len"))
  }

  /** Q182: the fit→score→gate loop CLOSED — documents scored through
    * the q115 expression shape (a codegen'd per-row dot product, no
    * shuffle, no UDF) with the coefficients [[qualityFitTrajectory]]
    * just TRAINED instead of q115's fixed constants; kept ⟺ score
    * > 0, decided on the exact integer score.
    */
  def trainedQualityGate(documents: DataFrame): DataFrame =
    qualityScore(documents)
      .select(col("doc_id"),
        fixedPointScore(fitQualityWeights(documents)).as("score"))
      .withColumn("kept", col("score") > 0L)

  /** Q193: the fit EVALUATED per round — the confusion matrix of
    * every trajectory checkpoint against the planted labels, the
    * curve a training pipeline reads before promoting a classifier
    * (is the fit improving? where did it converge? what does the
    * final gate cost in false drops?). The trajectory's weights cross
    * the driver once (fitIters × 5 longs — the q117 model-size
    * convention); the evaluation is then ONE scan over the feature
    * rows computing all rounds' counts as 4·fitIters bounded aggregates
    * (each round's score a per-row dot product with its weights as
    * plan literals — the q182 expression shape, `pred ⟺ score > 0`
    * exactly like the gate). All-integer, so the oracle replays the
    * fit and the counts exactly.
    */
  def qualityFitEval(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    // ONE feature materialization feeds both the fit rounds and the
    // evaluation scan — the regex-heavy feature pipeline runs once
    // (lazy: round 1's aggregation job materializes the cut)
    val f = qualityFitFeatures(documents).localCheckpoint(eager = false)
    val traj = fitRounds(f)
      .map { case (r, d, w) => (r, d) -> w }.toMap
    val aggs = (1 to fitIters).flatMap { r =>
      val score = (0 until fitDims)
        .map(d => lit(traj((r, d))) * col(s"x$d")).reduce(_ + _)
      val pos = score > 0L
      Seq(
        sum(when(pos && col("y") === 1L, 1L).otherwise(0L)).as(s"tp$r"),
        sum(when(pos && col("y") === -1L, 1L).otherwise(0L)).as(s"fp$r"),
        sum(when(!pos && col("y") === 1L, 1L).otherwise(0L)).as(s"fn$r"),
        sum(when(!pos && col("y") === -1L, 1L).otherwise(0L)).as(s"tn$r"))
    }
    val row = f.agg(aggs.head, aggs.tail: _*).head()
    (1 to fitIters).map(r => (r,
        row.getAs[Long](s"tp$r"), row.getAs[Long](s"fp$r"),
        row.getAs[Long](s"fn$r"), row.getAs[Long](s"tn$r")))
      .toDF("round", "tp", "fp", "fn", "tn")
  }

  /** Q20: token counting — whitespace tokens and a BPE-ish regex
    * segmentation (letter runs / digit runs / single other glyphs).
    */
  /** BPE-ish token pattern — whitespace class spelled out (Java's \s
    * includes \x0B, RE2's does not); mirrored verbatim in the q20/q48
    * oracle SQL.
    */
  val bpeTokenRe = """[a-z]+|[0-9]+|[^a-z0-9 \t\n\x0B\f\r]"""

  def tokenCounts(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      size(tokens).as("n_ws_tokens"),
      size(regexp_extract_all(col("text"),
        lit(bpeTokenRe), lit(0))).as("n_bpe_tokens"))

  /** Q38: polynomial rolling-hash fingerprint over the character
    * stream (base-31 mod 2^31-1) — order-sensitive, the classic
    * Rabin-Karp-style content hash; complements the order-insensitive
    * bag fingerprint below. Pure codegen fold, no UDF.
    */
  def rollingFingerprint(documents: DataFrame): DataFrame = {
    // native codegen expression — the composable
    // `aggregate(split(text,''), ...)` HOF evaluates an interpreted
    // lambda per character; rolling_hash is a primitive loop (proven
    // equivalent in RollingHashSpec)
    documents.select(
      col("doc_id"),
      graft.functions.VectorFunctions.rollingHash(col("text")).as("rh"),
      length(col("text")).as("n_chars"))
  }

  /** Q42: edit distance between each document and its successor within
    * the same source (windowed lead + levenshtein, capped at 200 chars
    * to bound the quadratic DP). Partitioned by source — no global
    * sort, scales with sources × docs-per-source.
    */
  def neighborEditDistance(documents: DataFrame): DataFrame = {
    val w = Window.partitionBy("source").orderBy(col("doc_id").asc)
    documents
      .withColumn("nxt_id", lead("doc_id", 1).over(w))
      .withColumn("nxt", lead("text", 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("source"), col("doc_id"), col("nxt_id"),
        levenshtein(substring(col("text"), 1, 200),
          substring(col("nxt"), 1, 200)).as("edit_dist"))
  }

  /** Q21: document fingerprint — order-independent content hash over
    * the distinct token set (the canonical "bag fingerprint"; robust
    * to reordering, the common near-dup normalization).
    */
  def fingerprint(documents: DataFrame): DataFrame =
    documents
      .withColumn("w", tokens)
      .select(
        col("doc_id"),
        md5(concat_ws(" ", array_sort(array_distinct(col("w"))))).as("fp"),
        size(array_distinct(col("w"))).as("n_distinct_tokens"))

  /** Q62: repetition statistics — the filter signals (per Rae et al.
    * 2021, "Scaling Language Models: ... Gopher" §A1.1) that catch
    * boilerplate/spam documents plain length/punct ratios miss:
    * fraction of duplicate (non-blank) lines, and the share of all
    * word bigrams taken by the single most frequent one. Line stats
    * are pure expressions (no shuffle); the bigram mode needs one
    * (doc_id, gram) aggregation — bounded by per-doc distinct bigrams,
    * partial map-side like q53.
    */
  /** Share of all word bigrams taken by the most frequent one — the
    * q62 component q57's composition gates on; exposed separately so
    * the flagship doesn't pay for the line statistics it discards.
    */
  def topBigramFrac(documents: DataFrame): DataFrame = {
    val bigrams = documents.withColumn("w", tokens)
      .select(col("doc_id"), explode(OpsUtil.shingles(col("w"), 2)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("mx"), sum("c").as("tot"))
    documents.select("doc_id").join(bigrams, Seq("doc_id"), "left")
      .select(col("doc_id"),
        round(when(col("tot") > 0,
          col("mx").cast("double") / col("tot")).otherwise(0.0), 6)
          .as("top_bigram_frac"))
  }

  def repetitionStats(documents: DataFrame): DataFrame = {
    val lines = documents.select(col("doc_id"),
        OpsUtil.lines.as("l"))
      .select(col("doc_id"), size(col("l")).as("n_lines"),
        (size(col("l")) - size(array_distinct(col("l")))).as("n_dup"))
    lines.join(topBigramFrac(documents), Seq("doc_id"))
      .select(col("doc_id"),
        col("n_lines").cast("int").as("n_lines"),
        round(when(col("n_lines") > 0,
          col("n_dup").cast("double") / col("n_lines")).otherwise(0.0), 6)
          .as("dup_line_frac"),
        col("top_bigram_frac"))
  }

  /** Q97: bigram collocation mining by LIFT — how much more often two
    * tokens co-occur adjacently than independence predicts:
    * lift(a,b) = c_ab · N / (c_a · c_b) over the corpus token stream.
    * Every factor is an exact integer count and the products stay
    * under 2^53, so the double division is IEEE-exact and
    * cross-engine reproducible without any transcendental (the reason
    * lift, not log-PMI, is the shipped score — same ranking). Two
    * token-level aggregates, two broadcast-friendly joins on single
    * tokens, one global-count broadcast; min-count pruning (bigrams
    * seen at least 5 times) caps the join input before it grows. The
    * top 20 by lift are returned.
    */
  def collocations(documents: DataFrame): DataFrame = {
    val toks = documents.withColumn("w", tokens)
    val uni = toks.select(explode(col("w")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
    val total = uni.agg(sum("c").as("n_total"))
    val bi = toks
      .select(explode(OpsUtil.shingles(col("w"), 2)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= 5)
    bi
      .withColumn("a", expr("element_at(split(gram, ' '), 1)"))
      .withColumn("b", expr("element_at(split(gram, ' '), 2)"))
      .join(uni.select(col("t").as("a"), col("c").as("c_a")), "a")
      .join(uni.select(col("t").as("b"), col("c").as("c_b")), "b")
      .crossJoin(broadcast(total))
      .select(col("gram"), col("c_ab"),
        expr("round(cast(c_ab * n_total as double) / cast(c_a * c_b as double), 6)")
          .as("lift"))
      .orderBy(col("lift").desc, col("gram").asc)
      .limit(20)
  }

  /** Q87: within-document repeated-line removal — drop every repeat
    * of a (trimmed, non-empty) line, keeping first occurrences in
    * order: the boilerplate-stripping pass (nav bars, cookie banners,
    * repeated headers) that precedes corpus-level dedup in web-scale
    * pipelines. Pure per-row expression work — the indexed filter HOF
    * keeps a line only where its first occurrence index is its own —
    * so there is no shuffle and no UDF; the cleaned text is pinned by
    * md5 so the oracle verifies CONTENT and order, not just counts.
    */
  def stripRepeatedLines(documents: DataFrame): DataFrame =
    documents
      .withColumn("l", OpsUtil.lines)
      .withColumn("kept",
        expr("filter(l, (x, i) -> array_position(l, x) == i + 1)"))
      .select(col("doc_id"),
        size(col("l")).cast("int").as("n_lines"),
        (size(col("l")) - size(col("kept"))).cast("int").as("n_removed"),
        md5(expr("array_join(kept, '\\n')")).as("clean_md5"))

  /** Q107: N-GRAM NOVELTY — for each arriving document, the fraction
    * of its distinct word n-grams never seen in the standing corpus:
    * the data-freshness score of an ingest batch (novelty ≈ 0 means
    * the crawl is re-reading what the corpus already knows, before
    * any dedup fires; it is also the budget signal for q105's intake
    * caps). Integer counts and an int/int division — bit-exact
    * cross-engine.
    *
    * Plan shape: the q68 decontamination join transposed — ONE
    * gram-keyed equi-join of the batch's distinct (doc, gram) pairs
    * against the corpus's distinct gram set with a seen-marker, one
    * aggregation; history participates only as the narrow gram
    * column (at 100 TB, a gram-digest Bloom artifact would replace
    * the join's build side the way q61 upgrades q59).
    */
  def ngramNovelty(newDocs: DataFrame, existing: DataFrame): DataFrame = {
    def grams(df: DataFrame) = df
      .withColumn("w", tokens)
      .select(col("doc_id"), explode(OpsUtil.shingles(col("w"), 5)).as("gram"))
    val corpusGrams = grams(existing).select("gram").distinct()
      .withColumn("seen", lit(1))
    grams(newDocs).distinct()
      .join(corpusGrams, Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), count(col("seen")).as("n_seen"))
      .select(col("doc_id"), col("n_grams"),
        (col("n_grams") - col("n_seen")).as("n_new"),
        ((col("n_grams") - col("n_seen")).cast("double") /
          col("n_grams")).as("novelty"))
  }

  /** Q106: KEYWORD SEARCH — multi-term retrieval over the corpus with
    * COORDINATION-LEVEL ranking: documents score by how many distinct
    * query terms they contain, then by total matched term frequency,
    * then by doc_id — all integers, so the ranking is bit-exact on
    * any engine (no tf-idf logs to drift; the weighted-similarity
    * path is q53's TF-IDF / the embedding kNN family).
    *
    * Plan shape: the query set is a handful of literal rows —
    * broadcast onto the token stream (never the reverse), so the
    * corpus-sized work is one partial-aggregated (query, doc) count;
    * per-query top-k rides the same map-side WindowGroupLimit bound
    * as q101. At 100 TB the token explode is the scan itself — an
    * inverted-index ARTIFACT (like q78's IVF cells) would amortize
    * repeated query batches; this operator is the query-time path.
    */
  def keywordSearch(documents: DataFrame,
                    queries: Map[String, Seq[String]]): DataFrame = {
    require(queries.nonEmpty, "keywordSearch needs at least one query")
    val spark = documents.sparkSession
    import spark.implicits._
    val qTerms = queries.toSeq.sortBy(_._1)
      .flatMap { case (qid, terms) => terms.distinct.map(qid -> _) }
      .toDF("query_id", "term")
    val toks = documents
      .select(col("doc_id"), explode(tokens).as("term"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("n_terms").desc, col("tf_sum").desc, col("doc_id").asc)
    toks.join(broadcast(qTerms), "term")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(countDistinct(col("term")).as("n_terms"),
        count(lit(1)).as("tf_sum"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= searchK)
      .select("query_id", "rank", "doc_id", "n_terms", "tf_sum")
  }

  /** Q120: the inverted index as a STORAGE ARTIFACT — the amortization
    * path q106's own scaladoc points at: the (term, doc_id, tf)
    * postings are aggregated ONCE from the corpus and persisted under
    * a [[graft.core.Scope]] partitioned by a term-hash `bucket`, so
    * repeated query batches never re-scan (or re-tokenize) the corpus.
    * [[searchPostings]] re-derives the query terms' buckets with the
    * same hash and filters on them, so the probe prunes to the handful
    * of bucket directories holding the query terms at FILE LISTING
    * time — the IVF-cell pattern (q78) applied to lexical retrieval.
    * Results are identical to [[keywordSearch]] over the source corpus
    * (the q120 oracle IS the q106 SQL): bucketing is layout, never
    * semantics, like q84/q90/q112.
    *
    * The bucket hash is engine-internal (xxhash64) — legal here
    * because buckets never surface in results; everything the oracle
    * compares is the same integer ranking as q106.
    */
  def buildPostings(documents: DataFrame, nBuckets: Int = 64): DataFrame =
    documents
      .select(col("doc_id"), explode(tokens).as("term"))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"))
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(nBuckets)).cast("int"))

  /** Persist the postings WITH their bucket-universe metadata: the
    * rows land partitioned by bucket under `name/rows`, and nBuckets —
    * the one parameter probe and append must agree with the build on —
    * rides beside them in the artifact's manifest. A probe or append that
    * assumed a different nBuckets would silently prune VALID postings
    * out of results (wrong answers, not an error), so the artifact
    * BUILDS the postings itself under the nBuckets it records (a
    * separately-built frame could have been bucketed under a different
    * universe than a caller-repeated parameter claims) and
    * [[appendPostings]]/[[searchPostingsArtifact]] read the metadata
    * back instead of taking an independent parameter. No
    * production call passes `nBuckets`; ArtifactSpec's killed-save spec
    * varies it to prove a killed re-save never serves rows under the
    * other bucket count.
    */
  def savePostings(documents: DataFrame, scope: graft.core.Scope,
                   name: String, nBuckets: Int = 64): Unit =
    graft.io.Artifact.save(documents.sparkSession, scope, name,
        "n_buckets" -> nBuckets) { at =>
      buildPostings(documents, nBuckets).write
        .partitionBy("bucket").parquet(at("rows"))
    }

  /** Q128: incremental index maintenance — APPEND a new document
    * batch's postings to the stored artifact. O(batch): the batch is
    * tokenized and aggregated alone, and the dynamic-partition append
    * touches only the bucket directories its terms hash into; stored
    * postings are never read or rewritten (the q83 shape, without
    * even a frozen quantizer to drift — the term hash is stateless).
    * nBuckets comes from the artifact's own metadata, so an append can
    * never scatter a term across two bucket universes. CONTRACT:
    * append batches must be doc-disjoint from the stored corpus —
    * [[searchPostings]] sums stored tf per (term, doc), so
    * re-ingesting a document would double-count it (dedup upstream is
    * exactly q59's job).
    */
  def appendPostings(batch: DataFrame, scope: graft.core.Scope,
                     name: String): Unit = {
    val m = graft.io.Artifact.read(batch.sparkSession, scope, name)
    buildPostings(batch, m.int("n_buckets")).write.mode("append")
      .partitionBy("bucket").parquet(m.table("rows"))
  }

  /** Reload; `bucket` comes back as a partition column, so
    * [[searchPostings]]' bucket filter prunes directories, not rows.
    */
  def loadPostings(spark: org.apache.spark.sql.SparkSession,
                   scope: graft.core.Scope, name: String): DataFrame =
    graft.io.Artifact.load(spark, scope, name)

  /** Probe the STORED artifact under its own recorded nBuckets — the
    * drift-proof entry ([[searchPostings]] stays available for
    * in-memory postings the caller just built).
    */
  def searchPostingsArtifact(spark: org.apache.spark.sql.SparkSession,
                             scope: graft.core.Scope, name: String,
                             queries: Map[String, Seq[String]]): DataFrame = {
    val m = graft.io.Artifact.read(spark, scope, name)
    searchPostings(spark.read.parquet(m.table("rows")), queries,
      nBuckets = m.int("n_buckets"))
  }

  /** How many documents [[keywordSearch]] and [[searchPostings]]
    * return per query.
    */
  private val searchK = 10

  /** The probe half of the q120 artifact: [[keywordSearch]] semantics
    * evaluated against the postings instead of the corpus. The query
    * terms' buckets are re-derived with the build-side hash (a
    * bounded local job over the literal terms — never corpus rows) and
    * pushed as a partition filter; the scan then reads only those
    * bucket directories. tf comes pre-aggregated, so the per-(query,
    * doc) rollup sums stored tf instead of counting raw tokens.
    */
  def searchPostings(postings: DataFrame,
                     queries: Map[String, Seq[String]],
                     nBuckets: Int = 64): DataFrame = {
    require(queries.nonEmpty, "searchPostings needs at least one query")
    val spark = postings.sparkSession
    import spark.implicits._
    val qTerms = queries.toSeq.sortBy(_._1)
      .flatMap { case (qid, terms) => terms.distinct.map(qid -> _) }
      .toDF("query_id", "term")
    val buckets = qTerms
      .select(pmod(xxhash64(col("term")), lit(nBuckets)).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("n_terms").desc, col("tf_sum").desc, col("doc_id").asc)
    // bucket IN (...) prunes directories; term IN (...) additionally
    // reaches the parquet row groups as PushedFilters, so the probe
    // decodes only the query terms' postings rows within each bucket
    val terms = queries.values.flatten.toSeq.distinct
    postings.filter(col("bucket").isin(buckets: _*))
      .filter(col("term").isin(terms: _*))
      .join(broadcast(qTerms), "term")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(countDistinct(col("term")).as("n_terms"),
        sum(col("tf")).as("tf_sum"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= searchK)
      .select("query_id", "rank", "doc_id", "n_terms", "tf_sum")
  }

  /** Q102: VOCABULARY FITTING — the corpus token inventory with
    * frequency-rank ids and cumulative coverage, i.e. the word-level
    * analogue of fitting a tokenizer: id 1 is the most frequent
    * token, `cum_frac` at rank k is the fraction of all corpus token
    * OCCURRENCES a k-entry vocabulary would cover (the curve that
    * picks the vocab size / OOV budget). Ties rank lexicographically
    * so ids are deterministic on any engine.
    *
    * Plan shape: the corpus-sized work is ONE partially-aggregated
    * count per distinct token (map-side combine bounds shuffle volume
    * at vocab × partitions); the rank and running sum then run over
    * VOCAB-sized data — a single-partition window bounded by distinct
    * tokens, never by corpus rows (same deliberate bound as q76's
    * stratum window). cum_frac = int/int division, IEEE-exact
    * cross-engine.
    */
  def vocabulary(documents: DataFrame): DataFrame = {
    val counts = documents
      .select(explode(tokens).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val rankW = Window.orderBy(col("cnt").desc, col("token").asc)
    counts
      .withColumn("token_id", row_number().over(rankW).cast("bigint"))
      .withColumn("cum_frac",
        (sum(col("cnt")).over(rankW.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)).cast("double") /
          sum(col("cnt")).over(Window.partitionBy().rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing))
            .cast("double")))
      .select("token_id", "token", "cnt", "cum_frac")
  }

  /** Q124: VOCABULARY APPLY — the other half of q102's fit: encode
    * the corpus with the fitted vocabulary TRIMMED to 1,000 entries,
    * per document reporting token count, OOV count, and the sum of
    * assigned ids (a digest that pins every token→id assignment
    * through the oracle without shipping ragged id arrays through the
    * comparator). This is the corpus→ids step that feeds training;
    * 1 − n_oov/n_tokens is realized coverage, the quantity q102's
    * cum_frac predicted at the chosen vocab size.
    *
    * Scale shape: the trim is what makes apply cheap — the vocabulary
    * becomes a size-bounded MODEL artifact, broadcast onto the
    * token stream (never the reverse), so the corpus-sized work is
    * one map-side join + one doc_id-keyed aggregation. Fitting still
    * pays q102's vocab-sized rank window once; re-encoding N shards
    * against a saved vocabulary pays only the broadcast.
    */
  def encodeWithVocabulary(documents: DataFrame): DataFrame = {
    val vocab = vocabulary(documents)
      .filter(col("token_id") <= 1000L)
      .select("token", "token_id")
    documents
      .select(col("doc_id"), explode(tokens).as("token"))
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("token_id").isNull.cast("long")).as("n_oov"),
        coalesce(sum("token_id"), lit(0L)).as("ids_sum"))
  }

  /** Q56: word n-gram counts per lang — the n-gram language-model /
    * benchmark-contamination primitive. Same shape as Q11 with a
    * windowed gram expand (one expression, no UDF); map-side partial
    * aggregation bounds shuffle volume at (distinct grams ×
    * partitions), not corpus size.
    */
  def nGramCounts(documents: DataFrame): DataFrame =
    documents
      .withColumn("w", tokens)
      .select(col("lang"), explode(OpsUtil.shingles(col("w"), 2)).as("gram"))
      .groupBy("lang", "gram")
      .agg(count(lit(1)).as("cnt"))

  /** Q68: BENCHMARK CONTAMINATION — the eval-integrity primitive of a
    * training pipeline: which corpus documents share long word n-grams
    * with a held-out benchmark set, and how many. A training document
    * containing a benchmark item's 5-gram leaks the eval into training;
    * this surfaces them for removal (the n-gram-overlap decontamination
    * procedure published with GPT-3, Appendix C).
    *
    * Plan shape: one plan, no pre-pass. Both sides expand to DISTINCT
    * (doc, gram) / (gram) sets, joined LEFT SEMI on the gram, with one
    * count per contaminated doc. The optimizer pushes the semi-join
    * below the corpus-side distinct (the join key is its grouping key),
    * and benchmarks are small next to the corpus, so the semi-join
    * broadcasts and only corpus grams that occur in the benchmark reach
    * the distinct's exchange; nothing is ever all-pairs. A Bloom
    * pre-filter over the benchmark grams would drop only rows that
    * broadcast probe drops anyway, for extra jobs per build. At 100 TB
    * the only adaptation worth making is joining on a 64-bit gram hash instead
    * of the gram string to shrink the shuffled/broadcast payload —
    * semantics identical modulo hash collisions, so the string form
    * stays the oracle-checked definition.
    */
  def benchmarkContamination(corpus: DataFrame, benchmark: DataFrame): DataFrame = {
    def grams(df: DataFrame) = df
      .withColumn("w", tokens)
      .select(col("doc_id"), explode(OpsUtil.shingles(col("w"), 5)).as("gram"))
    grams(corpus).distinct()
      .join(grams(benchmark).select("gram").distinct(), Seq("gram"), "left_semi")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Q70: SEQUENCE PACKING — assign documents to 512-token
    * training sequences: each document's pack is the budget-window its
    * START offset falls in, under a deterministic (lang, shard,
    * doc_id) order. The standard pre-tokenization step that turns a
    * filtered corpus into equal-cost training rows.
    *
    * A single global running sum would serialize the corpus through
    * one partition; instead the running offset is per (lang, shard)
    * with shard = doc_id % 8, so parallelism is lang×shards while each
    * pack stays homogeneous in language and fully deterministic. At
    * 100 TB the shard count would scale with the cluster (it only
    * changes which docs share a pack, not the semantics), and the one
    * shuffle is the window's hash partition on (lang, shard).
    */
  def packSequences(documents: DataFrame): DataFrame =
    // size() yields -1 (not 0) on a NULL array under Spark's default
    // sizeOfNull — uncorrected, one NULL text would DECREMENT the
    // running offset for every later doc in its stream; pin NULL text
    // to 0 tokens instead
    packSequencesByCount(documents.select(col("doc_id"), col("lang"),
        greatest(size(tokens), lit(0)).cast("long").as("n_tok")))

  /** The packing window over CALLER-SUPPLIED token counts — q70's
    * machinery decoupled from the word tokenizer so the cost unit can
    * be anything the pipeline actually trains in (BPE subword counts
    * via [[BpeOps.tokenCounts]] — the q150 composition — or byte
    * lengths). `counts` carries (doc_id, lang, n_tok); plan shape is
    * unchanged: one hash exchange on (lang, shard), per-partition
    * running sums, no global sort.
    */
  def packSequencesByCount(counts: DataFrame, budget: Int = 512): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    val toks = counts.select(col("doc_id"), col("lang"),
      greatest(col("n_tok").cast("long"), lit(0L)).as("n_tok"),
      (col("doc_id") % 8).as("shard"))
    val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks
      .withColumn("start_tok", sum("n_tok").over(w) - col("n_tok"))
      .withColumn("pack_id", floor(col("start_tok") / budget))
      .select("doc_id", "lang", "shard", "n_tok", "pack_id")
  }

  /** Q77: OVERLAPPING TOKEN-WINDOW CHUNKING — the retrieval/embedding
    * ingestion primitive: split each document into 64-token windows
    * starting every 48 tokens (so consecutive windows overlap by 16),
    * the shape RAG pipelines and long-context embedding models
    * consume. Chunks start at every multiple of the stride below
    * the token count (the final window may be short); zero-token
    * documents produce no chunks. Pure expression pipeline — the
    * explode is the only row expansion, there is no shuffle at all,
    * and the emitted chunk is pinned by its md5 so the oracle checks
    * CONTENT, not just offsets, without shipping the text twice.
    */
  def chunkDocuments(documents: DataFrame): DataFrame = {
    val (chunk, stride) = (64, 48)
    documents
      .withColumn("w", tokens)
      .withColumn("n_tok", greatest(size(col("w")), lit(0)))
      .withColumn("start_tok", explode(expr(
        s"case when n_tok > 0 then sequence(0, n_tok - 1, $stride) " +
          "else array() end")))
      .select(col("doc_id"),
        (col("start_tok") / stride).cast("int").as("chunk_idx"),
        col("start_tok").cast("int").as("start_tok"),
        expr(s"size(slice(w, start_tok + 1, $chunk))").as("n_chunk_tok"),
        expr(s"md5(concat_ws(' ', slice(w, start_tok + 1, $chunk)))")
          .as("chunk_md5"))
  }

  /** PII patterns shared by [[redactPii]] and the q63 oracle — kept to
    * syntax with IDENTICAL semantics in Java regex and RE2 (plain
    * character classes, no \b/\d shorthand whose Unicode behavior
    * differs across engines).
    */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phoneRe = "\\+[0-9]{2}-[0-9]{3}-[0-9]{7}"

  /** Q63: PII redaction — the scrubbing stage of a training pipeline:
    * emails and international phone numbers replaced by typed
    * placeholders, with per-document match counts and a fingerprint of
    * the redacted text (so the oracle checks the REPLACEMENT output,
    * not just the counts). Pure regexp expressions in whole-stage
    * codegen; no UDF, no shuffle.
    */
  def redactPii(documents: DataFrame): DataFrame =
    // function-API only: a pattern routed through a Spark SQL string
    // LITERAL would have its backslashes re-escaped by the SQL parser
    // and silently diverge from the oracle's RE2 pattern
    documents.select(
      col("doc_id"),
      regexp_count(col("text"), lit(emailRe)).cast("int").as("n_emails"),
      regexp_count(col("text"), lit(phoneRe)).cast("int").as("n_phones"),
      md5(regexp_replace(
        regexp_replace(col("text"), emailRe, "[EMAIL]"),
        phoneRe, "[PHONE]")).as("redacted_fp"))

  /** Q63 fixture: plant deterministic PII into every 5th document —
    * the redaction analogue of the synthetic PNG table: the operator
    * under test stays generic, the fixture makes its effect
    * predictable enough for a SQL oracle to replay.
    */
  def withPlantedPii(documents: DataFrame): DataFrame =
    documents.withColumn("text",
      when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" reach user"), col("doc_id"),
          lit("@example.com or +49-151-"),
          lpad((col("doc_id") % 10000000).cast("string"), 7, "0")))
        .otherwise(col("text")))

  /** Q53: per-(document, token) TF-IDF — the classic relevance /
    * keyword-extraction weight (Sparck Jones 1972): tf · ln(N/df).
    *
    * All three inputs stay EXACT integers (term count, document
    * frequency, corpus size) so the only float op is the final
    * ln+multiply, rounded to 6 for cross-engine comparability. Plan
    * shape at scale: one shuffle on (doc_id, token) for tf, one on
    * token for df — both with map-side partial aggregation, so hot
    * stopword tokens never concentrate raw rows in one partition (the
    * window-function alternative would) — and N as a broadcast
    * one-row cross join. `tf` feeds both the output rows and the df
    * aggregate; without materialization Catalyst recomputes that
    * subtree for the df branch, so a production corpus-scale run
    * should persist tf (or land it as a build artifact) to tokenize
    * and shuffle once.
    */
  def tfIdf(documents: DataFrame): DataFrame = {
    val tf = documents
      .select(col("doc_id"), explode(tokens).as("token"))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = documents.agg(count(lit(1)).as("n"))
    tf.join(df, "token")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        round(col("tf") * log(col("n").cast("double") / col("df")), 6)
          .as("tfidf"))
  }

  /** Q67 gate: FREQUENT-ITEMS sketch (`approx_top_k` — Apache
    * DataSketches frequent-items, Misra-Gries family) checked in-job
    * against the exact token counts — the third member of the
    * approximate-operator family (HLL q26, percentile sketch q44).
    * The sketch is the 100 TB path for "top tokens over a corpus":
    * one pass, fixed-size partial-mergeable state, no full
    * token-frequency shuffle kept around.
    *
    * The sketch reports the top 20 items from 8192 map slots, and the
    * published error bound for a stream of n items with `maxTracked`
    * map slots is eps·n with eps = 3.5/maxTracked (DataSketches
    * frequent-items documentation). Violations emitted:
    *  - `deviation`: a sketch-reported item whose estimate differs
    *    from its exact count by more than ceil(3.5·n/maxTracked);
    *  - `missing`: an item whose exact count strictly exceeds the
    *    sketch's smallest reported estimate plus the bound, yet absent
    *    from the sketch's top-k (the no-false-negative guarantee above
    *    the error band).
    * Expected output: EMPTY — which the DuckDB oracle verifies.
    */
  def topTokensGate(documents: DataFrame): DataFrame = {
    val (k, maxTracked) = (20, 8192)
    val toks = OpsUtil.par(documents).select(explode(tokens).as("tok"))
    val approx = toks
      .agg(expr(s"approx_top_k(tok, $k, $maxTracked)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item").as("tok"), col("e.count").as("est"))
    val exact = toks.groupBy("tok").agg(count(lit(1)).as("n_exact"))
    // the eps·n bound rides along as a broadcast one-row frame (no
    // driver-side action) DERIVED from the exact aggregate: n_total =
    // sum of the per-token counts, so ReuseExchange serves it from the
    // groupBy's shuffle instead of a third tokenize+explode corpus pass
    // (the scan still runs twice — once for the sketch, once for the
    // exact side; that duplication is inherent to an exactness gate)
    val bound = exact.agg(sum("n_exact").as("n_total"))
      .select(ceil(lit(3.5) * col("n_total") / maxTracked).cast("bigint")
        .as("eps_n"))
    val deviation = approx.join(exact, Seq("tok"), "left")
      .crossJoin(broadcast(bound))
      .filter(abs(col("est") - coalesce(col("n_exact"), lit(0L))) > col("eps_n"))
      .select(lit("deviation").as("reason"), col("tok"),
        col("est"), coalesce(col("n_exact"), lit(0L)).as("n_exact"))
    val cutoff = approx.agg(min("est").as("min_est"))
    val missing = exact
      .crossJoin(broadcast(cutoff)).crossJoin(broadcast(bound))
      .join(approx.select(col("tok"), lit(1).as("hit")), Seq("tok"), "left")
      .filter(col("hit").isNull && col("n_exact") > col("min_est") + col("eps_n"))
      .select(lit("missing").as("reason"), col("tok"),
        lit(null).cast("long").as("est"), col("n_exact"))
    deviation.unionByName(missing)
  }

  /** N-GRAM LANGUAGE-MODEL scoring — the CCNet-style statistical
    * quality gate (Wenzek et al., LREC'20 score docs with a KenLM
    * n-gram model; heuristic signals are q19, a trained classifier's
    * linear head is q115, this is the LM-statistics member): fit an
    * add-one-smoothed bigram model on the corpus, score every document
    * by how "in-distribution" its word transitions are.
    *
    * Fit = TWO partially-aggregated count passes (unigrams, bigrams),
    * each frequency-truncated under a total order (count DESC, gram
    * ASC) to a MODEL-sized table — exactly what a pruned production LM
    * is — so both sides BROADCAST to the scoring join: at 100 TB the
    * corpus never shuffles, every document scores map-side against the
    * broadcast model, and the only exchange is the final per-document
    * roll-up (partial-agg, narrow rows).
    *
    * Engine-portable arithmetic (the oracle contract): each bigram's
    * smoothed probability (c(w1,w2)+1)/(c(w1)+V) is one IEEE double
    * division of exact integers (correctly rounded, so bit-identical
    * in any engine), snapped to fixed point (×10⁶, round-half-away —
    * identical for the positive range) and summed as BIGINTs — exact,
    * order-independent. The natural-log variant (true log-perplexity)
    * is a drop-in swap of the per-row expression, but libm `ln` is
    * only 1-ulp-accurate and NOT identical across engines, so the
    * checkable form sums probabilities, not logs: same plan, same
    * model, same ordering power over documents at fixed length.
    */
  /** Q164: STUPID-BACKOFF trigram LM scoring (Brants et al.,
    * EMNLP'07 "Large Language Models in Machine Translation" — the
    * web-scale LM designed FOR MapReduce-class engines: no
    * normalization pass, just count ratios with a fixed backoff
    * penalty, which is exactly what distributes). Per trigram
    * position: S = c3/c2 when the trigram survives the model, else
    * 0.4·(c2'/c1') off the bigram, else 0.4·0.4·(c1''/N) off the
    * unigram. All three count tables are frequency-truncated under
    * total orders to MODEL size (2^16 unigrams, 2^18 bigrams, 2^19
    * trigrams) and BROADCAST (q156's pruned-LM
    * shape); N is the exact full token count. Each branch is one
    * double division of exact integers snapped to 1e6 fixed point
    * (0.4 parses to the identical double on both engines; the
    * multiplication tree is fixed) and the per-doc score is the exact
    * BIGINT sum. Backoff-level counts ship beside the score — the
    * "how much did the model actually know" diagnostic. The corpus
    * never shuffles before its per-doc roll-up.
    */
  def stupidBackoffScore(documents: DataFrame): DataFrame = {
    val uni = prunedNgramCounts(documents, Seq("u1"), "cu", lmVocab)
    // token total from the un-exploded arrays — a second corpus-wide
    // explode would materialize one row per token just to count them;
    // greatest(...,0) guards size(null) = -1 on null-text rows
    val total = documents.select(tokens.as("w"))
      .agg(sum(greatest(size(col("w")), lit(0))).cast("long").as("n_total"))
    val bi = prunedNgramCounts(documents, Seq("b1", "b2"), "cb", lmBigrams)
    val tri = prunedNgramCounts(documents, Seq("t1", "t2", "t3"), "ct",
      1 << 19)
    ngramStream(documents, Seq("w1", "w2", "w3"), keepDocId = true)
      .join(broadcast(tri.select(col("t1").as("w1"), col("t2").as("w2"),
        col("t3").as("w3"), col("ct"))), Seq("w1", "w2", "w3"), "left")
      .join(broadcast(bi.select(col("b1").as("w1"), col("b2").as("w2"),
        col("cb").as("cb12"))), Seq("w1", "w2"), "left")
      .join(broadcast(bi.select(col("b1").as("w2"), col("b2").as("w3"),
        col("cb").as("cb23"))), Seq("w2", "w3"), "left")
      .join(broadcast(uni.select(col("u1").as("w2"), col("cu").as("cu2"))),
        Seq("w2"), "left")
      .join(broadcast(uni.select(col("u1").as("w3"), col("cu").as("cu3"))),
        Seq("w3"), "left")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        coalesce(col("ct"), lit(0L)).as("ct"),
        coalesce(col("cb12"), lit(0L)).as("cb12"),
        coalesce(col("cb23"), lit(0L)).as("cb23"),
        coalesce(col("cu2"), lit(0L)).as("cu2"),
        coalesce(col("cu3"), lit(0L)).as("cu3"),
        col("n_total"))
      .withColumn("lvl", expr(
        """case when ct > 0 and cb12 > 0 then 0
          |     when cb23 > 0 and cu2 > 0 then 1
          |     else 2 end""".stripMargin.replace("\n", " ")))
      .withColumn("s_fp", expr(
        """cast(round(1e6 * (
          |  case when ct > 0 and cb12 > 0
          |         then cast(ct as double) / cast(cb12 as double)
          |       when cb23 > 0 and cu2 > 0
          |         then 0.4 * (cast(cb23 as double) / cast(cu2 as double))
          |       else 0.4 * (0.4 * (cast(cu3 as double)
          |         / cast(n_total as double)))
          |  end)) as bigint)""".stripMargin.replace("\n", " ")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"),
        sum(when(col("lvl") === 1, 1L).otherwise(0L)).as("n_backoff_bi"),
        sum(when(col("lvl") === 2, 1L).otherwise(0L)).as("n_backoff_uni"),
        sum(col("s_fp")).as("score_fp"))
  }

  /** Q165: the DSIR SELECTION tail — the top-`k` documents by q162
    * importance weight (ties to the ascending doc_id), joined back to
    * their domain label: "give me the k raw-pool documents that look
    * most like the target domain". The rank is bounded-k
    * (TakeOrderedAndProject — per-partition heaps, no global sort);
    * target-domain documents themselves are excluded (selection is
    * over the raw pool, the q162 model split).
    */
  def dsirSelect(documents: DataFrame, targetSource: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    dsirWeights(documents, targetSource)
      .join(documents.filter(col("source") =!= targetSource)
        .select("doc_id", "source"), "doc_id")
      .orderBy(col("weight_fp").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Q162: DSIR-shaped data-selection importance weights (Xie et al.,
    * NeurIPS'23 "Data Selection for Language Models via Importance
    * Resampling", adapted to the engine's exact-arithmetic
    * conventions): score each document by how much more a TARGET
    * domain's bigram model likes it than the general-corpus model —
    * the importance-resampling selection signal for "give me more
    * data that looks like this domain". Both models are
    * add-one-smoothed bigram tables frequency-truncated under total
    * orders to MODEL size (the q156 pruned-LM shape) and BROADCAST to
    * the scoring join: the TARGET model from `source = targetSource`,
    * the RAW model from the rest of the corpus (the pool selection
    * draws from — were the target inside the raw model, every ratio
    * would skew ≤ 1 and the signal would collapse into "penalize
    * everything"). The per-transition increment is the smoothed
    * LIKELIHOOD RATIO p_target/p_raw snapped to 1e6 fixed point —
    * computed as one double division of two products
    * ((cbt+1)·(cur+V)) / ((cbr+1)·(cut+V)) — factors below 2^26 (the
    * fixture/oracle regime) make both products IEEE-exact and the
    * quotient correctly rounded; beyond that every step is still a
    * deterministic IEEE operation evaluated in the identical tree on
    * both engines, so cross-engine equality survives — then summed
    * exactly as BIGINTs.
    * Ratio > 1e6 ⇒ the target model prefers that transition (the
    * paper's log-ratio is a one-expression swap; libm ln is not
    * cross-engine identical — the q156/q97 rationale). The corpus
    * never shuffles before its per-doc roll-up.
    */
  /** One row per n-gram position: the tokens at offsets 0..n-1 as
    * `gramCols`. THE shared n-gram expansion — every pruned-model
    * scorer ([[bigramLmScore]], [[dsirWeights]],
    * [[stupidBackoffScore]]) and its DuckDB oracle replays exactly
    * this explode guard, so it lives in one place.
    */
  private def ngramStream(documents: DataFrame, gramCols: Seq[String],
                          keepDocId: Boolean = false): DataFrame = {
    val n = gramCols.size
    val id = if (keepDocId) Seq(col("doc_id")) else Seq.empty
    val base = documents.select(id :+ tokens.as("w"): _*)
    if (n == 1) base.select(id :+ explode(col("w")).as(gramCols.head): _*)
    else {
      val grams = gramCols.zipWithIndex.map {
        case (c, 0) => expr("element_at(w, i)").as(c)
        case (c, j) => expr(s"element_at(w, i + $j)").as(c)
      }
      base.withColumn("i", explode(expr(
          s"case when size(w) >= $n then sequence(1, size(w) - ${n - 1}) " +
            "else array() end")))
        .select(id ++ grams: _*)
    }
  }

  /** The PRUNED n-gram count table: top `limit` grams under the
    * canonical truncation total order (count DESC, then grams ASC) —
    * the order every oracle mirrors; broadcast-sized by construction.
    */
  private def prunedNgramCounts(documents: DataFrame, gramCols: Seq[String],
                                cntCol: String, limit: Int): DataFrame =
    ngramStream(documents, gramCols)
      .groupBy(gramCols.map(col): _*).agg(count(lit(1)).as(cntCol))
      .orderBy(col(cntCol).desc +: gramCols.map(col(_).asc): _*)
      .limit(limit)

  def dsirWeights(documents: DataFrame, targetSource: String): DataFrame = {
    def model(docs: DataFrame, tag: String): (DataFrame, DataFrame) = (
      prunedNgramCounts(docs, Seq("w1"), s"cu_$tag", lmVocab),
      prunedNgramCounts(docs, Seq("w1", "w2"), s"cb_$tag", lmBigrams))
    val (uniT, biT) = model(
      documents.filter(col("source") === targetSource), "t")
    val (uniR, biR) = model(
      documents.filter(col("source") =!= targetSource), "r")
    val ratioFp = expr(
      s"""cast(round(1e6 * (
         |  (cast(coalesce(cb_t, 0) + 1 as double)
         |    * cast(coalesce(cu_r, 0) + $lmVocab as double))
         |  / (cast(coalesce(cb_r, 0) + 1 as double)
         |    * cast(coalesce(cu_t, 0) + $lmVocab as double))))
         |as bigint)""".stripMargin.replace("\n", " "))
    ngramStream(documents, Seq("w1", "w2"), keepDocId = true)
      .join(broadcast(biT), Seq("w1", "w2"), "left")
      .join(broadcast(uniT), Seq("w1"), "left")
      .join(broadcast(biR), Seq("w1", "w2"), "left")
      .join(broadcast(uniR), Seq("w1"), "left")
      .withColumn("ratio_fp", ratioFp)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("ratio_fp")).as("weight_fp"))
  }

  /** The pruned LM vocabulary of the n-gram scorers: the 2^16 most
    * frequent unigrams, also the V of add-one smoothing.
    */
  private val lmVocab = 1 << 16

  /** The bigram table size of the pruned LMs. */
  private val lmBigrams = 1 << 18

  def bigramLmScore(documents: DataFrame): DataFrame = {
    val uni = prunedNgramCounts(documents, Seq("w1"), "cu", lmVocab)
    val bi = prunedNgramCounts(documents, Seq("w1", "w2"), "cb", lmBigrams)
    ngramStream(documents, Seq("w1", "w2"), keepDocId = true)
      .join(broadcast(bi), Seq("w1", "w2"), "left")
      .join(broadcast(uni), Seq("w1"), "left")
      .select(col("doc_id"),
        coalesce(col("cb"), lit(0L)).as("cb"),
        coalesce(col("cu"), lit(0L)).as("cu"))
      .withColumn("p_fp", expr(
        s"""cast(round(1e6 * (cast(cb + 1 as double)
           |  / cast(cu + $lmVocab as double))) as bigint)"""
          .stripMargin.replace("\n", " ")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("cb") === 0L, 1L).otherwise(0L)).as("n_oov"),
        sum(col("p_fp")).as("score_fp"))
  }

  /** Q170: LM-floor CALIBRATION — turns q163's scaladoc promise ("a
    * production deployment calibrates `minLmAvgFp` per corpus") into
    * an executed operator: the exact 15th percentile
    * (percentile_disc semantics, k = ceil(15·n/100)) of each
    * document's integer average transition score
    * `avg_fp = score_fp div n_bigrams` under the q156 model.
    *
    * The returned `floor_fp` composes EXACTLY with the v3 gate: for
    * integers, `avg_fp >= floor` ⟺ `score_fp >= floor · n_bigrams`,
    * so `trainingCorpusV3(docs, minLmAvgFp = floor_fp)` gates
    * `n_gated` documents precisely (spec-proven).
    *
    * Scale shape (the q123 pattern): the corpus-sized work is ONE
    * partially-aggregated count per distinct avg_fp — the VALUE
    * HISTOGRAM; the running-sum window, the doc total, and the
    * percentile read-off all run over distinct values, never corpus
    * rows, folded into a single aggregation so the scoring pass
    * executes once. Output is one row. All arithmetic is integer, so
    * any engine reproduces the floor bit-for-bit.
    */
  def lmFloorCalibrate(documents: DataFrame): DataFrame = {
    val avg = bigramLmScore(documents)
      .select(col("doc_id"), expr("score_fp DIV n_bigrams").as("avg_fp"))
    // the window inputs are the value histogram (distinct avg values),
    // never corpus rows — same bound as q123's per-stratum windows.
    // Everything after the histogram folds into ONE aggregation over
    // it (floor = first value whose running count reaches k; gated =
    // the largest running count still below k; total = the last
    // running count), so the corpus-scale scoring pass runs exactly
    // once — referencing the histogram from several sub-lineages
    // would re-execute it per use.
    val w = Window.orderBy(col("avg_fp").asc)
    val hist = avg.groupBy("avg_fp").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(w))
      .withColumn("n_docs", max(col("cum")).over(Window.partitionBy()))
      .withColumn("k",
        expr("CAST((n_docs * 15 + 99) DIV 100 AS BIGINT)"))
    hist.agg(
      min(when(col("cum") >= col("k"), col("avg_fp"))).as("floor_fp"),
      max(col("n_docs")).as("n_docs"),
      coalesce(max(when(col("cum") < col("k"), col("cum"))), lit(0L))
        .as("n_gated"))
  }
}
