package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding SUBWORD tokenization — the fit/encode pair a
  * production LLM pipeline counts, packs, and budgets in (word-level
  * tokens, q102/q124, are the coverage analogue; these are the real
  * unit). No reference analogue (the reference has no text operators
  * at all); this closes the north-star "text analysis" surface.
  *
  * FIT (Sennrich et al., ACL'16): learn `nMerges` merge rules by
  * repeatedly merging the most frequent adjacent symbol pair. Scale
  * shape is the q102 / PQ-codebook pattern: the CORPUS-sized work is
  * exactly one partially-aggregated word count (shuffle bounded by
  * word types × partitions, never corpus rows); the merge loop then
  * runs on the driver over the frequency-truncated top-`maxWords`
  * word dictionary — a MODEL-sized object (≤ 64Ki types by default,
  * the same collect scale as PQ training samples or k-means seeds).
  * Frequency truncation is what every production BPE trainer does
  * (the trainer input is a word-count dictionary, not the corpus);
  * tail types contribute negligible pair mass, and the corpus pass
  * that builds the dictionary is the only thing that touches data.
  *
  * ENCODE: the learned merge table broadcasts to executors (merges +
  * vocab ids are a few-KB model artifact) and every document encodes
  * independently inside `mapPartitions` — no shuffle, text never
  * leaves its partition, output is a narrow stats row. The iterative
  * lowest-rank-first merge application is genuinely data-dependent
  * imperative logic with no expression form (same documented-exception
  * class as the PQ argmin, but per-token rather than per-row), so the
  * typed-Dataset partition map is the right tool, not a UDF in a
  * Catalyst expression tree.
  *
  * DETERMINISM (the oracle contract): pair selection orders by
  * (count DESC, lhs ASC, rhs ASC) and dictionary truncation by
  * (count DESC, word ASC) — total orders any engine reproduces.
  * Token ids: base symbols are the dictionary's distinct single
  * characters in sorted order (id = position), merged symbols take
  * id = nBase + merge_rank. Characters outside the fit alphabet
  * encode as UNK (counted, id contribution 0) — at 100 TB a stray
  * codepoint is data, not an outage.
  */
object BpeOps {

  /** Java's \s whitespace set, spelled out to match OpsUtil.tokens
    * and the DuckDB oracle tokenizer exactly.
    */
  private val Ws = "[ \t\n\u000B\f\r]+"

  private[graft] def tokenize(text: String): Array[String] =
    if (text == null) Array.empty
    else text.trim.split(Ws).filter(_.nonEmpty)

  /** PRETOKENIZER (the GPT-2-shaped pass): split a whitespace token
    * into letter runs, digit runs, and single non-letter-digit
    * characters — so merges never cross a word/number/punctuation
    * boundary and "word." cannot learn a fused `d.` symbol. Runs by
    * `Character.isLetter`/`isDigit` (Unicode-aware); every other char
    * stands alone (simpler than GPT-2's grouped punct runs and
    * strictly finer — documented, and what the planted oracle pins).
    */
  private[graft] def pretokenize(word: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    val n = word.length
    while (i < n) {
      val c = word.charAt(i)
      if (Character.isLetter(c)) {
        var j = i + 1
        while (j < n && Character.isLetter(word.charAt(j))) j += 1
        out += word.substring(i, j); i = j
      } else if (Character.isDigit(c)) {
        var j = i + 1
        while (j < n && Character.isDigit(word.charAt(j))) j += 1
        out += word.substring(i, j); i = j
      } else {
        out += word.substring(i, i + 1); i += 1
      }
    }
    out.toArray
  }

  /** The unit stream the trainer/encoder consume: whitespace tokens,
    * optionally refined by [[pretokenize]].
    */
  private[graft] def units(text: String, pretok: Boolean): Array[String] = {
    val ws = tokenize(text)
    if (pretok) ws.flatMap(pretokenize) else ws
  }

  /** One learned rule: merging adjacent (lhs, rhs) was the most
    * frequent pair at step `rank` (0-based), with `freq` occurrences
    * in the dictionary at selection time.
    */
  final case class BpeMerge(merge_rank: Int, lhs: String, rhs: String,
                            freq: Long)

  /** The driver-side fit core over an already-aggregated word-count
    * dictionary (word occurrences, not document frequencies) —
    * INCREMENTAL trainer: pair counts live in a hash map, a
    * pair→words occurrence index confines each merge's bookkeeping to
    * the words that actually contain the merged pair, and selection
    * pops a lazy max-heap (stale entries discarded against the live
    * count). Per merge the cost is O(Σ affected word lengths + heap
    * churn), not O(total dictionary symbols) — the difference between
    * a 50-merge demo and a vocab-scale 32k-merge fit over a 64Ki-word
    * dictionary. Selection order is EXACTLY the reference loop's
    * total order (count desc, then (lhs, rhs) ascending); the
    * differential spec holds the two implementations equal on random
    * dictionaries and every closed-form oracle pins it end to end.
    */
  private[graft] def fitFromCounts(wordCounts: Seq[(String, Long)],
                                   nMerges: Int): Seq[BpeMerge] = {
    require(nMerges >= 0, s"nMerges must be non-negative: $nMerges")
    import scala.collection.mutable
    val words = wordCounts.map { case (w, c) =>
      (mutable.ArrayBuffer(w.map(_.toString): _*), c)
    }.toIndexedSeq
    val counts = mutable.HashMap.empty[(String, String), Long]
    val where = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    // max-heap: larger count wins, ties to the ascending (lhs, rhs)
    val heap = mutable.PriorityQueue.empty[(Long, String, String)](
      new Ordering[(Long, String, String)] {
        def compare(a: (Long, String, String),
                    b: (Long, String, String)): Int = {
          val c = java.lang.Long.compare(a._1, b._1)
          if (c != 0) c
          else {
            val l = b._2.compareTo(a._2)
            if (l != 0) l else b._3.compareTo(a._3)
          }
        }
      })
    def bump(k: (String, String), delta: Long): Unit = {
      val n = counts.getOrElse(k, 0L) + delta
      if (n <= 0L) counts.remove(k)
      else {
        counts.update(k, n)
        heap.enqueue((n, k._1, k._2)) // lazy: stale entries skipped on pop
      }
    }
    words.indices.foreach { idx =>
      val (syms, c) = words(idx)
      var i = 0
      while (i + 1 < syms.length) {
        val k = (syms(i), syms(i + 1))
        bump(k, c)
        where.getOrElseUpdate(k, mutable.Set.empty) += idx
        i += 1
      }
    }
    val merges = mutable.ArrayBuffer.empty[BpeMerge]
    var rank = 0
    var done = false
    while (rank < nMerges && !done) {
      // pop until a live entry (count matches the current map) surfaces
      var picked: Option[(String, String, Long)] = None
      while (picked.isEmpty && heap.nonEmpty) {
        val (c, l, r) = heap.dequeue()
        if (counts.get((l, r)).contains(c)) picked = Some((l, r, c))
      }
      picked match {
        case None => done = true
        case Some((lhs, rhs, freq)) =>
          merges += BpeMerge(rank, lhs, rhs, freq)
          val fused = lhs + rhs
          val affected = where.getOrElse((lhs, rhs), mutable.Set.empty)
            .toArray.sorted
          affected.foreach { idx =>
            val (syms, c) = words(idx)
            // retire the word's current pair profile...
            var i = 0
            while (i + 1 < syms.length) {
              val k = (syms(i), syms(i + 1))
              bump(k, -c)
              where.get(k).foreach(_ -= idx)
              i += 1
            }
            // ...apply the merge left-to-right, non-overlapping
            // (identical inner loop to the reference trainer)...
            i = 0
            while (i + 1 < syms.length) {
              if (syms(i) == lhs && syms(i + 1) == rhs) {
                syms.update(i, fused)
                syms.remove(i + 1)
              } else i += 1
            }
            // ...and re-index the rewritten word
            i = 0
            while (i + 1 < syms.length) {
              val k = (syms(i), syms(i + 1))
              bump(k, c)
              where.getOrElseUpdate(k, mutable.Set.empty) += idx
              i += 1
            }
          }
          rank += 1
      }
    }
    merges.toSeq
  }

  /** The REFERENCE quadratic trainer — recounts every pair each merge.
    * Kept test-only as the differential oracle for [[fitFromCounts]];
    * never called from main paths.
    */
  private[graft] def fitFromCountsReference(wordCounts: Seq[(String, Long)],
                                            nMerges: Int): Seq[BpeMerge] = {
    require(nMerges >= 0, s"nMerges must be non-negative: $nMerges")
    // each dictionary entry: current symbol sequence + occurrence count
    val words = wordCounts.map { case (w, c) =>
      (scala.collection.mutable.ArrayBuffer(
        w.map(_.toString): _*), c)
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[BpeMerge]
    var rank = 0
    var done = false
    while (rank < nMerges && !done) {
      // count EVERY adjacent position (overlapping included: "aaa"
      // holds (a,a) twice), the standard trainer convention
      val pairCounts = scala.collection.mutable.HashMap
        .empty[(String, String), Long]
      words.foreach { case (syms, c) =>
        var i = 0
        while (i + 1 < syms.length) {
          val k = (syms(i), syms(i + 1))
          pairCounts.update(k, pairCounts.getOrElse(k, 0L) + c)
          i += 1
        }
      }
      if (pairCounts.isEmpty) done = true
      else {
        // total order: count desc, then (lhs, rhs) ascending
        val ((lhs, rhs), freq) = pairCounts.minBy { case ((l, r), c) =>
          (-c, l, r)
        }
        merges += BpeMerge(rank, lhs, rhs, freq)
        val fused = lhs + rhs
        // merge left-to-right, non-overlapping, in every word
        words.foreach { case (syms, _) =>
          var i = 0
          while (i + 1 < syms.length) {
            if (syms(i) == lhs && syms(i + 1) == rhs) {
              syms.update(i, fused)
              syms.remove(i + 1)
            } else i += 1
          }
        }
        rank += 1
      }
    }
    merges.toSeq
  }

  /** FIT entry: one corpus-sized word-count aggregation (map-side
    * combined; `orderBy.limit` plans as TakeOrderedAndProject — per-
    * partition heaps, no global sort), then the driver merge loop
    * over the model-sized dictionary. Returns the merge table
    * (merge_rank, lhs, rhs, freq).
    */
  /** The trainer dictionary: ONE partially-aggregated corpus pass
    * (shuffle bounded by word types × partitions), frequency-truncated
    * to the model-sized top `maxWords` under the total order
    * (count DESC, word ASC). The only thing in the fit that touches
    * corpus data; everything downstream is driver-side over this.
    */
  /** The FULL distributed word-count table (one partial-agg pass) —
    * the trainer's sufficient statistic: counts are additive over
    * disjoint document sets, which is exactly what makes the q183
    * refresh algebra exact (stored counts + batch counts = counts of
    * the union, bit for bit).
    */
  private[graft] def wordCountsDf(documents: DataFrame,
                                  pretok: Boolean): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val unitsDf =
      if (pretok)
        // the pretokenizer is Scala (Unicode char classes) — run it in
        // the same distributed pass via flatMap; still one partial agg
        documents.select(col("text").cast("string")).as[String]
          .flatMap(t => units(t, pretok = true)).toDF("w")
      else
        documents.select(
          explode(graft.functions.TokenFunctions.wsTokens(col("text"))).as("w"))
    unitsDf.groupBy("w").agg(count(lit(1)).as("cnt"))
  }

  /** The trainer dictionary: top `maxWords` of a count table by
    * (count desc, word asc), optionally restricted to words whose
    * every character is in a FROZEN alphabet (the q183 refresh
    * contract: a refreshed tokenizer must keep the artifact's id
    * space, so novel-character words are UNK-fodder at encode time,
    * never dictionary entries).
    */
  private[graft] def topWords(counts: DataFrame, maxWords: Int,
                              alphabet: Option[Seq[String]] = None): Seq[(String, Long)] = {
    require(maxWords > 0, s"maxWords must be positive: $maxWords")
    val spark = counts.sparkSession
    import spark.implicits._
    val filtered = alphabet match {
      case Some(a) =>
        // the alphabet is model-sized: ship it as one plan literal
        // (the empty-string guard is split()'s edge behavior, not a
        // character)
        counts.filter(forall(split(col("w"), ""),
          c => (c === lit("")) || array_contains(lit(a.toArray), c)))
      case None => counts
    }
    filtered
      .orderBy(col("cnt").desc, col("w").asc)
      .limit(maxWords) // model-sized: the trainer dictionary
      .select(col("w"), col("cnt").cast("long"))
      .as[(String, Long)].collect().toSeq
  }

  /** The trainer dictionary's size: the top 2^16 words by count. */
  private val maxWords = 1 << 16

  /** The trainer dictionary of whitespace-split words (no
    * pretokenizer; a pretokenized fit goes through [[saveBpe]], which
    * records the setting).
    */
  private[graft] def fitDictionary(documents: DataFrame): Seq[(String, Long)] =
    topWords(wordCountsDf(documents, pretok = false), maxWords)

  def fitBpe(documents: DataFrame, nMerges: Int = 50): DataFrame = {
    require(nMerges >= 0, s"nMerges must be non-negative: $nMerges")
    val spark = documents.sparkSession
    import spark.implicits._
    fitFromCounts(fitDictionary(documents), nMerges)
      .toDF("merge_rank", "lhs", "rhs", "freq")
  }

  /** The id vocabulary induced by a merge table: base characters (the
    * distinct single chars across merge symbols — exactly the fit
    * dictionary's alphabet restricted to characters that participate
    * in or surround merges is NOT enough, so the alphabet is supplied
    * by the caller's corpus at encode time via UNK accounting) plus
    * one id per merge. Returned as symbol → id.
    */
  private def vocabOf(alphabet: Seq[String],
                      merges: Seq[BpeMerge]): Map[String, Int] = {
    val base = alphabet.distinct.sorted.zipWithIndex.toMap
    val n = base.size
    // a later merge producing the same surface string as an earlier
    // one keeps the EARLIER id (first-wins), mirroring standard
    // tokenizer vocab construction
    merges.sortBy(_.merge_rank).foldLeft(base) { (m, mg) =>
      val sym = mg.lhs + mg.rhs
      if (m.contains(sym)) m else m + (sym -> (n + mg.merge_rank))
    }
  }

  /** Apply a merge table to one word: repeatedly fuse the adjacent
    * pair with the LOWEST rank (all its non-overlapping occurrences,
    * left to right) until no ranked pair remains — the standard BPE
    * encoder. Package-private for the round-trip property spec.
    */
  private[graft] def applyMerges(word: String,
      ranks: Map[(String, String), Int]): List[String] = {
    var syms = word.map(_.toString).toList
    var go = true
    while (go && syms.lengthCompare(1) > 0) {
      val best = syms.zip(syms.tail)
        .flatMap(p => ranks.get(p).map(r => (r, p)))
        .sortBy(_._1).headOption
      best match {
        case None => go = false
        case Some((_, (l, r))) =>
          val out = scala.collection.mutable.ListBuffer.empty[String]
          var rest = syms
          while (rest.nonEmpty) {
            rest match {
              case a :: b :: tail if a == l && b == r =>
                out += (l + r); rest = tail
              case a :: tail => out += a; rest = tail
              case Nil =>
            }
          }
          syms = out.toList
      }
    }
    syms
  }

  private def collectMerges(merges: DataFrame): Seq[BpeMerge] =
    merges.select(col("merge_rank").cast("int"), col("lhs"), col("rhs"),
        col("freq").cast("long"))
      .collect()
      .map(r => BpeMerge(r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq.sortBy(_.merge_rank)

  /** ENCODE entry: per-document subword stats — token count, UNK
    * count (characters outside the fit alphabet), and the id-sum
    * digest that pins every token→id assignment through the oracle
    * without shipping ragged arrays (the q124 convention). The merge
    * table and vocabulary broadcast (model-sized); documents encode
    * independently per partition; no shuffle.
    *
    * @param alphabetOpt base alphabet override; default derives it
    *        from the merge table's constituent characters — supply
    *        the FIT dictionary's alphabet when tail characters that
    *        never merged must still get ids
    */
  def encodeStats(documents: DataFrame, merges: DataFrame,
                  alphabetOpt: Option[Seq[String]] = None,
                  pretok: Boolean = false): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val ms = collectMerges(merges)
    val alphabet = alphabetOpt.getOrElse(
      ms.flatMap(m => (m.lhs + m.rhs).map(_.toString)).distinct)
    val vocab = vocabOf(alphabet, ms)
    val ranks = ms.map(m => (m.lhs, m.rhs) -> m.merge_rank).toMap
    val bc = spark.sparkContext.broadcast((ranks, vocab))
    documents.select(col("doc_id").cast("long"), col("text").cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val (rk, vb) = bc.value
        it.map { case (id, text) =>
          var n = 0L; var unk = 0L; var sum = 0L
          units(text, pretok).foreach { w =>
            applyMerges(w, rk).foreach { s =>
              n += 1
              vb.get(s) match {
                case Some(i) => sum += i
                case None => unk += 1
              }
            }
          }
          (id, n, unk, sum)
        }
      }.toDF("doc_id", "n_tokens", "n_unk", "ids_sum")
  }

  /** Decode a token-id sequence back to text (per-word: BPE merges
    * only ever concatenate, so decode is the vocab's inverse map plus
    * concatenation). Used by the round-trip property spec.
    */
  private[graft] def decodeIds(ids: Seq[Int], alphabet: Seq[String],
                               merges: Seq[BpeMerge]): String = {
    val inv = vocabOf(alphabet, merges).map(_.swap)
    ids.map(inv).mkString
  }

  /** The PLANTED oracle fixture: a corpus whose BPE fit/encode results
    * are provable in closed form, derived from the documents table so
    * word frequencies vary with the fixture. Document d carries
    * `1 + d % 5` copies of word `W[d % 8]`, where the 8 words are
    * (xy)^2 over DISJOINT letter pairs: abab, cdcd, …, opop.
    *
    * Why this pins real BPE: with disjoint alphabets no merge
    * interacts across words, so word j's merge chain is exactly
    * (x,y) at frequency 2·c_j then (xy,xy) at c_j, where c_j is word
    * j's corpus occurrence count. The greedy fit provably emits these
    * chains in the STATIC order (freq DESC, lhs ASC, rhs ASC): a
    * chain-2 pair only exists after its chain-1 merge, but chain-1's
    * frequency 2·c_j strictly exceeds c_j, so chain-1 is always
    * selected first and availability never reorders the sort — which
    * is precisely the order the DuckDB oracle reconstructs with one
    * window over 16 rows. The encoder's per-document token count and
    * id-sum follow in closed form from which chain entries land
    * inside nMerges.
    */
  def plantedCorpus(documents: DataFrame,
                    keep: Seq[String] = Seq.empty): DataFrame =
    documents.select(col("doc_id") +: keep.map(col) :+ expr(
      """trim(repeat(concat(element_at(
        |  array('abab','cdcd','efef','ghgh','ijij','klkl','mnmn','opop'),
        |  cast(doc_id % 8 as int) + 1), ' '), cast(1 + doc_id % 5 as int)))
        |""".stripMargin.replace("\n", " ")).as("text"): _*)

  /** The PUNCTUATED planted corpus: every repetition of the planted
    * word carries a trailing "." inside the same whitespace token
    * ("abab. abab."), so the whitespace tokenizer alone would feed
    * "abab." to the trainer (and could learn a fused `b.` symbol),
    * while the pretokenizer provably splits it into ["abab", "."].
    * Under pretok the unit counts equal the q148 planted corpus plus
    * a pair-free "." unit — so the merge table is EXACTLY q148's
    * closed form, and the encode adds one "." token (id 0: '.' sorts
    * before every letter in the stored alphabet, shifting base ids by
    * one and merge ids to 17+rank) per repetition — all still closed
    * form.
    */
  def plantedPunctCorpus(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), expr(
      """trim(repeat(concat(element_at(
        |  array('abab','cdcd','efef','ghgh','ijij','klkl','mnmn','opop'),
        |  cast(doc_id % 8 as int) + 1), '. '), cast(1 + doc_id % 5 as int)))
        |""".stripMargin.replace("\n", " ")).as("text"))

  /** Q148: BPE fit on the planted corpus — the learned merge table,
    * oracle-checked row for row (rank, pair, frequency).
    */
  def plantedFit(documents: DataFrame): DataFrame =
    fitBpe(plantedCorpus(documents), 12)

  /** Q149: BPE encode on the planted corpus under the q148 merges —
    * per-document (n_tokens, n_unk, ids_sum), oracle-pinned.
    */
  def plantedEncode(documents: DataFrame): DataFrame = {
    val planted = plantedCorpus(documents)
    encodeStats(planted, fitBpe(planted, 12))
  }

  /** Subword token counts for downstream composition (packing,
    * budgeting): (doc_id, n_tok) from [[encodeStats]].
    */
  def tokenCounts(documents: DataFrame, merges: DataFrame): DataFrame =
    encodeStats(documents, merges)
      .select(col("doc_id"), col("n_tokens").as("n_tok"))

  /** Q157: tokenizer FERTILITY / COMPRESSION profile per domain — the
    * go/no-go numbers a pipeline reads before committing a tokenizer
    * to the full-corpus encode: subword tokens per whitespace word
    * (fertility — how much the model's sequence budget inflates vs
    * word count) and characters per subword token (compression), per
    * `source`, so a tokenizer fitted on one mix is auditable
    * against every domain it will actually encode. Sums are exact
    * BIGINTs; the two ratios ship as 1e6 fixed-point BIGINTs (the
    * q156 convention) so the result is engine-portable bit for bit.
    *
    * Scale shape: ONE per-partition encode pass (the [[encodeStats]]
    * broadcast-model map, with the word/char counters riding the same
    * loop — no second scan, no corpus⋈corpus join), then one
    * partial-agg groupBy on the domain key — output is
    * domain-cardinality-sized and the only exchange is the final
    * domain-keyed aggregation.
    */
  def fertilityProfile(documents: DataFrame, merges: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val ms = collectMerges(merges)
    val alphabet = ms.flatMap(m => (m.lhs + m.rhs).map(_.toString)).distinct
    val vocab = vocabOf(alphabet, ms)
    val ranks = ms.map(m => (m.lhs, m.rhs) -> m.merge_rank).toMap
    val bc = spark.sparkContext.broadcast((ranks, vocab))
    // word/char counts ride the SAME per-partition encode pass as the
    // subword stats — one scan, no corpus⋈corpus join downstream
    documents
      .select(col("source").cast("string"), col("text").cast("string"))
      .as[(String, String)]
      .mapPartitions { it =>
        val (rk, vb) = bc.value
        it.map { case (domain, text) =>
          var words = 0L; var chars = 0L
          var n = 0L; var unk = 0L
          tokenize(text).foreach { w =>
            words += 1; chars += w.length
            applyMerges(w, rk).foreach { s =>
              n += 1
              if (!vb.contains(s)) unk += 1
            }
          }
          (domain, words, chars, n, unk)
        }
      }
      .toDF("__domain", "__n_words", "__n_chars", "__n_tokens", "__n_unk")
      .groupBy("__domain")
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum("__n_words").as("n_words"),
        sum("__n_chars").as("n_chars"),
        sum("__n_tokens").as("n_tokens"),
        sum("__n_unk").as("n_unk"))
      .select(
        col("__domain").as("source"),
        col("n_docs"), col("n_words"), col("n_chars"), col("n_tokens"),
        col("n_unk"),
        when(col("n_words") > 0,
          round(lit(1e6) * col("n_tokens").cast("double")
            / col("n_words").cast("double")).cast("long"))
          .otherwise(0L).as("fertility_fp"),
        when(col("n_tokens") > 0,
          round(lit(1e6) * col("n_chars").cast("double")
            / col("n_tokens").cast("double")).cast("long"))
          .otherwise(0L).as("chars_per_tok_fp"))
  }

  // ---- the TOKENIZER ARTIFACT ----------------------------------------
  // A production pipeline fits a tokenizer ONCE and every downstream
  // job (counting, packing, budgeting, decontamination) loads it — the
  // fit corpus is long gone by the time the 100 TB encode runs. Same
  // maintained-artifact contract as the band/postings/index artifacts:
  // the model rides WITH its parameters (merge table + the fit
  // dictionary's base ALPHABET + hyper-parameters as metadata), so an
  // encode job can never silently pair stored merges with a different
  // id assignment. The alphabet matters: characters in the fit
  // dictionary that never participated in a merge still get base ids;
  // deriving the alphabet from the merge table alone would demote them
  // to UNK and shift every id (vocabOf ids are positional).

  /** Fit and persist a BPE tokenizer under `scope/name`: the merge
    * table (`rows`), the fit dictionary's character alphabet
    * (`alphabet`), and (nMerges, maxWords = 2^16) as metadata. One corpus
    * pass (the dictionary aggregation); both stored tables are
    * model-sized.
    */
  def saveBpe(documents: DataFrame, scope: graft.core.Scope,
              name: String, nMerges: Int = 50,
              pretok: Boolean = false): Unit = {
    require(nMerges >= 0, s"nMerges must be non-negative: $nMerges")
    val spark = documents.sparkSession
    // the PRETOKENIZER SETTING is part of the model: an encode under a
    // different pretokenization is a different token stream, so the
    // flag rides the artifact and encodeWithArtifact obeys the stored
    // value, never a caller's guess. No refresh applied yet: the
    // manifest holds no refresh token.
    graft.io.Artifact.save(spark, scope, name, "n_merges" -> nMerges,
        "max_words" -> maxWords, "pretok" -> (if (pretok) 1 else 0)) { at =>
      // the FULL count table rides the artifact as its sufficient
      // statistic: a later refresh (q183) merges batch counts into it
      // and re-fits without ever re-reading the original corpus
      val counts = wordCountsDf(documents, pretok)
        .localCheckpoint(eager = true)
      counts.write.parquet(at("counts"))
      val dict = topWords(counts, maxWords)
      writeModel(spark, fitFromCounts(dict, nMerges),
        dict.flatMap(_._1.map(_.toString)).distinct.sorted, at)
    }
  }

  /** The model tables of one artifact version: the merge table
    * (`rows`) and the base alphabet (`alphabet`), one file each.
    */
  private def writeModel(spark: SparkSession, merges: Seq[BpeMerge],
                         alphabet: Seq[String], at: String => String): Unit = {
    import spark.implicits._
    merges.toDF("merge_rank", "lhs", "rhs", "freq")
      .coalesce(1).write.parquet(at("rows"))
    alphabet.toDF("sym").coalesce(1).write.parquet(at("alphabet"))
  }

  /** The stored merge table, in rank order (merge_rank, lhs, rhs,
    * freq) — the same shape [[fitBpe]] returns.
    */
  def loadBpeMerges(spark: SparkSession, scope: graft.core.Scope,
                    name: String): DataFrame =
    graft.io.Artifact.load(spark, scope, name)
      .select(col("merge_rank").cast("int"), col("lhs"), col("rhs"),
        col("freq").cast("long"))

  /** The stored base alphabet (model-sized: distinct characters of the
    * fit dictionary).
    */
  def loadBpeAlphabet(spark: SparkSession, scope: graft.core.Scope,
                      name: String): Seq[String] =
    alphabetOf(spark, graft.io.Artifact.read(spark, scope, name))

  private def alphabetOf(spark: SparkSession,
                         meta: graft.io.Artifact.Manifest): Seq[String] = {
    import spark.implicits._
    spark.read.parquet(meta.table("alphabet"))
      .select("sym").as[String].collect().toSeq.sorted
  }

  /** Q183: INCREMENTAL tokenizer refresh — re-fit the artifact's
    * merge table on corpus+batch WITHOUT re-reading the corpus, under
    * the FROZEN alphabet (the q83/q129 frozen-quantizer convention:
    * the id space is the artifact's, so a refresh may re-rank merges
    * but never mints base symbols; batch words with novel characters
    * stay out of the dictionary and surface as UNK at encode time).
    * Mechanics: one partial-agg count pass over the BATCH, summed
    * into the stored count table (word counts are additive over
    * disjoint doc sets — the exactness lever), and the merge loop
    * re-run on the frozen-alphabet top-`max_words` dictionary under
    * the artifact's own recorded parameters. Bit-identical to a full
    * refit on corpus+batch — [[bpeRefreshGate]] is that equality as
    * an empty-set gate. O(batch + vocabulary), never O(corpus).
    *
    * CRASH-REPLAY SAFETY: the merged counts, the re-fit merge table,
    * the alphabet and a deterministic digest of the batch's word
    * counts (the manifest's `refresh_token`) are written as ONE new
    * artifact version, so a crash anywhere in the refresh leaves the
    * previous version current with its statistic and merges
    * consistent. A replay of the SAME batch — the crash-recovery case
    * after a refresh that did publish — finds its own token on the
    * current version and returns without writing (no double-sum of
    * the sufficient statistic). LIMITS, stated
    * honestly: the content digest detects consecutive redelivery
    * only — an old batch replayed AFTER a different refresh has
    * landed is indistinguishable from new data, and a genuinely NEW
    * batch whose word counts equal the previous batch's (the same
    * daily feed ingested twice as two real batches) is
    * indistinguishable from a crash replay and would be silently
    * skipped. A caller that can name its batches passes `batchId`
    * and the token becomes that id instead of the digest:
    * identical-content batches with distinct ids then merge
    * correctly, and replays of the SAME id still skip. (The caller
    * owns batch ordering either way, same as the q178 ingest
    * contract's fetch-order requirement.)
    *
    * No production call passes `batchId` yet; BpeOpsSpec's replay
    * specs pass it to pin the same-content defect's fix.
    *
    * RETURNS whether the count merge APPLIED (`true`) or was skipped
    * as a detected replay (`false`) — a digest-path caller whose feed
    * can legitimately repeat content must check this instead of
    * assuming the batch landed; a silently-dropped batch is exactly
    * the failure mode the return value makes observable.
    */
  def refreshBpe(batch: DataFrame, scope: graft.core.Scope,
                 name: String, batchId: Option[Long] = None): Boolean = {
    val spark = batch.sparkSession
    val meta = graft.io.Artifact.read(spark, scope, name)
    val (nMerges, maxWords) = (meta.int("n_merges"), meta.int("max_words"))
    val pretok = meta.int("pretok") == 1
    val alphabet = alphabetOf(spark, meta)
    // one pass over the batch: the counts feed both the digest and the
    // merge (localCheckpoint so the token and the merged table cannot
    // disagree about what the batch contained)
    val batchCounts = wordCountsDf(batch, pretok)
      .localCheckpoint(eager = true)
    val token = batchId.getOrElse(batchCounts
      .agg(expr("coalesce(bit_xor(xxhash64(w, cnt)), 0L)"))
      .head().getLong(0))
    // "replayed" = this batch's token already rides the current
    // version: its refresh published and must not run again (a
    // corrupt token fails by name: guessing could double-sum)
    val replayed = meta.get("refresh_token").isDefined &&
      meta.long("refresh_token") == token
    if (!replayed)
      graft.io.Artifact.save(spark, scope, name, "n_merges" -> nMerges,
          "max_words" -> maxWords, "pretok" -> meta.int("pretok"),
          "refresh_token" -> token) { at =>
        spark.read.parquet(meta.table("counts"))
          .select(col("w"), col("cnt"))
          .unionByName(batchCounts)
          .groupBy("w").agg(sum(col("cnt")).as("cnt"))
          .write.parquet(at("counts"))
        val dict = topWords(spark.read.parquet(at("counts")), maxWords,
          Some(alphabet))
        writeModel(spark, fitFromCounts(dict, nMerges), alphabet, at)
      }
    !replayed
  }

  /** The q183 GATE: the refreshed artifact's merge table must equal a
    * FULL refit on corpus+batch under the frozen alphabet, row for
    * row — both directions of the symmetric difference emit as
    * violations and the oracle expects the empty set (the q129
    * incremental-algebra contract: incremental maintenance is
    * layout, not semantics).
    */
  def bpeRefreshGate(spark: SparkSession, scope: graft.core.Scope,
                     name: String, corpusPlusBatch: DataFrame): DataFrame = {
    val meta = graft.io.Artifact.read(spark, scope, name)
    val (nMerges, maxWords) = (meta.int("n_merges"), meta.int("max_words"))
    val pretok = meta.int("pretok") == 1
    val alphabet = loadBpeAlphabet(spark, scope, name)
    import spark.implicits._
    val full = fitFromCounts(
        topWords(wordCountsDf(corpusPlusBatch, pretok),
          maxWords, Some(alphabet)), nMerges)
      .toDF("merge_rank", "lhs", "rhs", "freq")
    val stored = loadBpeMerges(spark, scope, name)
    val cols = Seq("merge_rank", "lhs", "rhs", "freq")
    def tag(df: DataFrame, t: String): DataFrame =
      df.select(lit(t).as("violation") +: cols.map(col): _*)
    tag(full.exceptAll(stored), "missing_in_artifact")
      .unionByName(tag(stored.exceptAll(full), "extra_in_artifact"))
  }

  /** Encode against the STORED tokenizer: merges and alphabet come
    * from the artifact (never re-derived from the batch), so every
    * encode of every batch — today's or next year's — lands in the
    * identical id space. Per-partition map, no shuffle, same as
    * [[encodeStats]].
    */
  def encodeWithArtifact(documents: DataFrame, scope: graft.core.Scope,
                         name: String): DataFrame = {
    val spark = documents.sparkSession
    val pretok = graft.io.Artifact.read(spark, scope, name).int("pretok") == 1
    encodeStats(documents, loadBpeMerges(spark, scope, name),
      Some(loadBpeAlphabet(spark, scope, name)), pretok)
  }
}
