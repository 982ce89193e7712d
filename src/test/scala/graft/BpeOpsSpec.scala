package graft

import graft.io.Artifact
import graft.ops.BpeOps
import graft.ops.BpeOps.BpeMerge

class BpeOpsSpec extends SparkSpec {
  import spark.implicits._

  test("fitFromCounts learns the classic merge sequence") {
    // Sennrich's toy: 'low'x5 'lower'x2 'newest'x6 'widest'x3 —
    // the most frequent pair is (e,s) at 9 (newest+widest), then
    // (es,t) at 9, then (l,o) at 7...
    val dict = Seq("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val ms = BpeOps.fitFromCounts(dict, 4)
    assert(ms(0) === BpeMerge(0, "e", "s", 9L))
    assert(ms(1) === BpeMerge(1, "es", "t", 9L))
    assert(ms(2) === BpeMerge(2, "l", "o", 7L))
    assert(ms(3) === BpeMerge(3, "lo", "w", 7L))
  }

  test("overlapping pairs count per position and merge left-to-right") {
    // 'aaaa': pair (a,a) occurs at 3 positions; after the merge the
    // word is [aa][aa], so the second merge is (aa,aa) at 1
    val ms = BpeOps.fitFromCounts(Seq("aaaa" -> 1L), 3)
    assert(ms(0) === BpeMerge(0, "a", "a", 3L))
    assert(ms(1) === BpeMerge(1, "aa", "aa", 1L))
    assert(ms.length === 2) // single symbol left: no third pair exists
    // encoding an odd run: non-overlapping L2R then rank order
    val ranks = ms.map(m => (m.lhs, m.rhs) -> m.merge_rank).toMap
    assert(BpeOps.applyMerges("aaaaa", ranks) === List("aaaa", "a"))
    assert(BpeOps.applyMerges("aaa", ranks) === List("aa", "a"))
  }

  test("incremental trainer equals the reference loop on random dictionaries") {
    // tiny alphabet + short words maximize overlap/tie edge cases
    val rnd = new scala.util.Random(42)
    (1 to 60).foreach { trial =>
      val dict = (0 until 1 + rnd.nextInt(12)).map { _ =>
        val w = Array.fill(1 + rnd.nextInt(8))(
          ('a' + rnd.nextInt(4)).toChar).mkString
        w -> (1L + rnd.nextInt(9))
      }
      val n = rnd.nextInt(12)
      assert(BpeOps.fitFromCounts(dict, n) ===
        BpeOps.fitFromCountsReference(dict, n), s"trial $trial dict=$dict n=$n")
    }
  }

  test("ties break deterministically: count desc, then pair ascending") {
    val ms = BpeOps.fitFromCounts(Seq("zy" -> 3L, "ab" -> 3L), 2)
    assert(ms(0) === BpeMerge(0, "a", "b", 3L)) // ('a','b') < ('z','y')
    assert(ms(1) === BpeMerge(1, "z", "y", 3L))
  }

  test("planted fit matches the closed-form chain order on the fixture") {
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val got = BpeOps.plantedFit(docs).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    // closed form: c_j = sum of (1 + doc_id % 5) over docs ≡ j (mod 8);
    // chains (x_j, y_j)@2c_j and (x_j y_j, x_j y_j)@c_j in static
    // (freq desc, lhs asc, rhs asc) order
    val c = docs.select("doc_id").collect().map(_.getLong(0))
      .groupBy(id => (id % 8).toInt)
      .view.mapValues(_.map(id => 1 + id % 5).sum).toMap
    val words = Seq("abab", "cdcd", "efef", "ghgh", "ijij", "klkl", "mnmn", "opop")
    val expected = (0 until 8).filter(j => c.getOrElse(j, 0L) > 0).flatMap { j =>
      val (x, y) = (words(j).substring(0, 1), words(j).substring(1, 2))
      Seq((x, y, 2 * c(j)), (x + y, x + y, c(j)))
    }.sortBy { case (l, r, f) => (-f, l, r) }
      .take(12).zipWithIndex
      .map { case ((l, r, f), i) => (i, l, r, f) }
    assert(got.toSeq === expected)
  }

  test("planted encode pins token counts and id sums in closed form") {
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val got = BpeOps.plantedEncode(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val fit = BpeOps.plantedFit(docs).collect()
      .map(r => ((r.getString(1), r.getString(2)), r.getInt(0))).toMap
    val words = Seq("abab", "cdcd", "efef", "ghgh", "ijij", "klkl", "mnmn", "opop")
    docs.select("doc_id").collect().map(_.getLong(0)).foreach { id =>
      val j = (id % 8).toInt
      val m = 1 + id % 5
      val (x, y) = (words(j).substring(0, 1), words(j).substring(1, 2))
      val rk1 = fit.get((x, y))
      val rk2 = fit.get((x + y, x + y))
      val expected = (rk1, rk2) match {
        case (_, Some(r2)) => (m, 0L, m * (16L + r2))
        case (Some(r1), None) => (2 * m, 0L, 2 * m * (16L + r1))
        case (None, None) => (4 * m, 0L, m * (8L * j + 2))
      }
      assert(got(id) === expected, s"doc $id word ${words(j)} x$m")
    }
  }

  test("encode∘decode identity on real fixture text") {
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val merges = BpeOps.fitBpe(docs, nMerges = 40)
    val ms = merges.collect().map(r =>
      BpeMerge(r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val ranks = ms.map(m => (m.lhs, m.rhs) -> m.merge_rank).toMap
    // alphabet covering ALL sampled words, so every token has an id
    val sample = docs.select("text").limit(20).collect()
      .flatMap(r => BpeOps.tokenize(r.getString(0)))
    val alphabet = sample.flatMap(_.map(_.toString)).distinct.toSeq
    sample.foreach { w =>
      val toks = BpeOps.applyMerges(w, ranks)
      // merges only concatenate: the symbols tile the word exactly
      assert(toks.mkString === w, w)
      // and the id round trip reproduces the word
      val vocabIds = {
        val base = alphabet.distinct.sorted.zipWithIndex.toMap
        val n = base.size
        ms.foldLeft(base)((m, mg) => {
          val s = mg.lhs + mg.rhs
          if (m.contains(s)) m else m + (s -> (n + mg.merge_rank))
        })
      }
      val ids = toks.map(vocabIds)
      assert(BpeOps.decodeIds(ids, alphabet, ms) === w, w)
    }
    // compression: subword tokens never exceed characters, and real
    // merges strictly compress a natural-language corpus
    val stats = BpeOps.encodeStats(docs, merges,
      alphabetOpt = Some(alphabet)).collect()
    val totalToks = stats.map(_.getLong(1)).sum
    val totalChars = docs.selectExpr(
        "sum(length(regexp_replace(text, '[ \\\\t\\\\n\\\\x0B\\\\f\\\\r]+', '')))")
      .collect().head.getLong(0)
    assert(totalToks < totalChars)
  }

  test("packing and budgeting compose with real-text subword counts") {
    import org.apache.spark.sql.functions._
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val merges = BpeOps.fitBpe(docs, nMerges = 40)
    val counts = BpeOps.tokenCounts(docs, merges)
      .join(docs.select("doc_id", "lang", "source"), "doc_id")
    // q70 re-based: pack in the unit the model trains in
    val packed = graft.ops.TextOps.packSequencesByCount(
      counts.select("doc_id", "lang", "n_tok"), budget = 256).cache()
    assert(packed.count() === docs.count())
    // every pack's START offsets live inside its budget window
    val starts = packed
      .withColumn("start", col("pack_id") * 256)
      .filter(col("n_tok") > 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang", "shard").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val check = packed.withColumn("off", sum("n_tok").over(w) - col("n_tok"))
      .filter(floor(col("off") / 256) =!= col("pack_id"))
    assert(check.count() === 0)
    // q145 re-based: the budget contracted in subword tokens
    val mix = graft.ops.SampleOps.costBudgetMixture(
      counts.select("doc_id", "source", "n_tok"),
      "doc_id", "source", "n_tok", budget = 2000)
    val taken = mix.groupBy("source").agg(
      sum("n_tok").cast("long").as("c"), max("n_tok").cast("long").as("mx"))
      .collect()
    // greedy fill: overshoot bounded by the last admitted document
    taken.foreach { r =>
      assert(r.getLong(1) - r.getLong(2) < 2000, r.getString(0))
    }
    packed.unpersist()
  }

  test("characters outside the fit alphabet count as UNK, never fail") {
    val docs = Seq((1L, "ab ab"), (2L, "ab λμ")).toDF("doc_id", "text")
    val merges = BpeOps.fitBpe(Seq((1L, "ab ab ab")).toDF("doc_id", "text"),
      nMerges = 1)
    val out = BpeOps.encodeStats(docs, merges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) === ((2L, 0L)))   // two 'ab' tokens, fully known
    assert(out(2L) === ((3L, 2L)))   // 'ab' + two unknown greek chars
  }

  test("pretokenizer splits letter runs, digit runs, single other chars") {
    assert(BpeOps.pretokenize("abc12.de!") ===
      Array("abc", "12", ".", "de", "!"))
    assert(BpeOps.pretokenize("abab.") === Array("abab", "."))
    assert(BpeOps.pretokenize("!!") === Array("!", "!"))
    assert(BpeOps.pretokenize("λμ3") === Array("λμ", "3"))
    assert(BpeOps.pretokenize("") === Array.empty[String])
  }

  test("pretokenized fit on the punctuated corpus equals the q148 closed form") {
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val punct = BpeOps.plantedPunctCorpus(docs)
    // the pretokenized fit is the artifact's (saveBpe records the flag)
    val base = java.nio.file.Files.createTempDirectory("graft-bpe-punct-")
    val withPre = try {
      val scope = graft.core.Scopes.create(spark, base.toString)
      BpeOps.saveBpe(punct, scope, "tok", nMerges = 12, pretok = true)
      BpeOps.loadBpeMerges(spark, scope, "tok")
        .collect().map(r =>
          (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    } finally org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    val plain = BpeOps.plantedFit(docs)
      .collect().map(r =>
        (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(withPre === plain)
    // without the pretokenizer the trailing '.' lives inside the word
    // and the trainer learns a punctuation-fused merge — the exact
    // failure mode the pretokenizer exists to prevent
    val noPre = BpeOps.fitBpe(punct, nMerges = 12)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(noPre.exists { case (l, r) => (l + r).contains(".") })
    assert(withPre.forall { case (_, l, r, _) => !(l + r).contains(".") })
  }

  test("the artifact's stored pretok flag drives encodeWithArtifact") {
    val corpus = Seq((1L, "low. low. newest!"), (2L, "low newest2"))
      .toDF("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("graft-bpe-pre-")
    try {
      val scope = graft.core.Scopes.create(spark, base.toString)
      BpeOps.saveBpe(corpus, scope, "tok", nMerges = 3, pretok = true)
      val art = BpeOps.encodeWithArtifact(corpus, scope, "tok")
        .orderBy("doc_id").collect().toSeq
      val alphabet = BpeOps.loadBpeAlphabet(spark, scope, "tok")
      val direct = BpeOps.encodeStats(corpus,
        BpeOps.loadBpeMerges(spark, scope, "tok"),
        alphabetOpt = Some(alphabet), pretok = true)
        .orderBy("doc_id").collect().toSeq
      assert(art === direct)
      // the stored alphabet covers '.', '!', and the digit — no UNK
      assert(art.forall(_.getLong(2) === 0L))
    } finally {
      def rm(p: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.list(p).forEach(rm)
        java.nio.file.Files.deleteIfExists(p)
      }
      rm(base)
    }
  }

  test("streaming encode through the stored tokenizer matches the batch encode") {
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val base = java.nio.file.Files.createTempDirectory("graft-bpe-stream-")
    try {
      val scope = graft.core.Scopes.create(spark, base.toString)
      val planted = BpeOps.plantedCorpus(docs)
      BpeOps.saveBpe(planted, scope, "tok", nMerges = 12)
      val streamed = graft.streaming.EventsStreaming
        .streamingBpeEncode(spark, sf, scope, "tok")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1)
      val batch = BpeOps.encodeWithArtifact(planted, scope, "tok")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1)
      assert(streamed.nonEmpty && (streamed sameElements batch))
    } finally {
      def rm(p: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.list(p).forEach(rm)
        java.nio.file.Files.deleteIfExists(p)
      }
      rm(base)
    }
  }

  test("fertility profile: exact per-domain sums and fixed-point ratios") {
    val docs = Seq(
      (1L, "low low", "web"), (2L, "newest", "web"), (3L, "low", "book"))
      .toDF("doc_id", "text", "source")
    // nMerges=2 learns (l,o) then (lo,w): 'low' encodes to one token;
    // 'newest' falls back to 6 chars, 5 of them outside the
    // merges-derived alphabet {l,o,w} (the 'w' is known)
    val out = BpeOps.fertilityProfile(docs, BpeOps.fitBpe(docs, nMerges = 2))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getLong(7)))).toMap
    assert(out("web") === ((2L, 3L, 12L, 8L, 5L, 2666667L, 1500000L)))
    assert(out("book") === ((1L, 1L, 3L, 1L, 0L, 1000000L, 3000000L)))
  }

  test("tokenizer artifact: save/load round-trips merges, alphabet, ids") {
    val corpus = Seq(
      (1L, "low low low lower lower newest"),
      (2L, "newest newest widest low qz")).toDF("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("graft-bpe-art-")
    try {
      val scope = graft.core.Scopes.create(spark, base.toString)
      BpeOps.saveBpe(corpus, scope, "tok", nMerges = 3)
      // merges survive storage bit for bit, in rank order
      val direct = BpeOps.fitBpe(corpus, nMerges = 3).collect().toSeq
      val loaded = BpeOps.loadBpeMerges(spark, scope, "tok")
        .orderBy("merge_rank").collect().toSeq
      assert(loaded === direct.sortBy(_.getInt(0)))
      // the stored alphabet is the FIT DICTIONARY's characters — it
      // keeps ids for tail characters that never merged ('q'/'z'
      // appear once, in no merge), which the merges alone would lose
      val alphabet = BpeOps.loadBpeAlphabet(spark, scope, "tok")
      assert(alphabet.contains("q") && alphabet.contains("z"))
      val art = BpeOps.encodeWithArtifact(corpus, scope, "tok")
        .orderBy("doc_id").collect().toSeq
      val fresh = BpeOps.encodeStats(corpus,
        BpeOps.fitBpe(corpus, nMerges = 3), alphabetOpt = Some(alphabet))
        .orderBy("doc_id").collect().toSeq
      assert(art === fresh)
      // with the stored alphabet nothing is UNK; under the
      // merges-derived alphabet every character outside the 3 learned
      // merges (q, z, and the unmerged word tails) would demote to UNK
      assert(art.forall(_.getLong(2) === 0L))
      val mergesOnly = BpeOps.encodeStats(corpus,
        BpeOps.loadBpeMerges(spark, scope, "tok")).collect()
      assert(mergesOnly.map(_.getLong(2)).sum > 0L)
    } finally {
      def rm(p: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.list(p).forEach(rm)
        java.nio.file.Files.deleteIfExists(p)
      }
      rm(base)
    }
  }

  test("incremental refresh equals full refit; alphabet frozen; drift reported") {
    val corpus = Seq(
      (1L, "low low low lower lower newest"),
      (2L, "newest newest widest low")).toDF("doc_id", "text")
    // the batch SHIFTS pair statistics (many 'widest') and carries a
    // novel character ('~') the frozen alphabet must exclude
    val batch = Seq(
      (3L, "widest widest widest widest widest newest"),
      (4L, "w~ird w~ird")).toDF("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("graft-bpe-refresh-")
    try {
      val scope = graft.core.Scopes.create(spark, base.toString)
      BpeOps.saveBpe(corpus, scope, "tok", nMerges = 3)
      val before = BpeOps.loadBpeMerges(spark, scope, "tok").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      val alphaBefore = BpeOps.loadBpeAlphabet(spark, scope, "tok")
      BpeOps.refreshBpe(batch, scope, "tok")
      // the gate: refreshed merges == full refit on corpus+batch
      // under the frozen alphabet (empty violation set)
      assert(BpeOps.bpeRefreshGate(spark, scope, "tok",
        corpus.unionByName(batch)).count() === 0)
      // the alphabet is FROZEN: no '~', byte-identical to the seed
      assert(BpeOps.loadBpeAlphabet(spark, scope, "tok") === alphaBefore)
      // the refresh actually moved the statistics: merge table drifted
      val after = BpeOps.loadBpeMerges(spark, scope, "tok").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      assert(before !== after)
      // novel-character words never entered the dictionary: encoding
      // the batch under the refreshed artifact demotes '~' to UNK
      val enc = BpeOps.encodeWithArtifact(batch, scope, "tok")
        .orderBy("doc_id").collect()
      assert(enc(1).getLong(2) > 0L) // doc 4: w~ird has UNK chars
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("refreshBpe replay of the same batch never double-sums the statistic") {
    val corpus = Seq(
      (1L, "low low low lower lower newest"),
      (2L, "newest newest widest low")).toDF("doc_id", "text")
    val batch = Seq(
      (3L, "widest widest widest widest widest newest")).toDF("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("graft-bpe-replay-")
    try {
      val scope = graft.core.Scopes.create(spark, base.toString)
      BpeOps.saveBpe(corpus, scope, "tok", nMerges = 3)
      assert(BpeOps.refreshBpe(batch, scope, "tok"))
      def counts() = spark.read.parquet(Artifact.read(spark, scope, "tok").table("counts"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      def merges() = BpeOps.loadBpeMerges(spark, scope, "tok").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq
      val (c1, m1) = (counts(), merges())
      // the crash-recovery case: the SAME batch is delivered again
      // (the caller re-runs after a failure it cannot place). The
      // stored statistic must not absorb it twice, and the merge table
      // must stay the one fit on it. The skip is OBSERVABLE: the
      // replayed call returns false where the first returned true.
      assert(!BpeOps.refreshBpe(batch, scope, "tok"))
      assert(counts() === c1)
      assert(merges() === m1)
      // and the artifact still equals a SINGLE-application full refit
      assert(BpeOps.bpeRefreshGate(spark, scope, "tok",
        corpus.unionByName(batch)).count() === 0)
      // each refresh is one version: exactly one is left on disk
      assert(versions(scope) === Seq(Artifact.read(spark, scope, "tok").dir
        .split('/').last))
      // a GENUINELY new batch still lands (the token is per-batch,
      // not a one-shot latch)
      val batch2 = Seq((4L, "low lowest")).toDF("doc_id", "text")
      assert(BpeOps.refreshBpe(batch2, scope, "tok"))
      assert(counts()("low") === c1("low") + 1)
      assert(BpeOps.bpeRefreshGate(spark, scope, "tok",
        corpus.unionByName(batch).unionByName(batch2)).count() === 0)
      // IDENTICAL-CONTENT batches with DISTINCT caller ids both merge
      // (a digest alone cannot tell the second real delivery from a
      // crash replay — the batchId token can), and a replay of the
      // SAME id still skips
      val low = counts()("low")
      val daily = Seq((5L, "low")).toDF("doc_id", "text")
      assert(BpeOps.refreshBpe(daily, scope, "tok", batchId = Some(100L)))
      assert(BpeOps.refreshBpe(daily, scope, "tok", batchId = Some(101L)))
      assert(counts()("low") === low + 2)
      assert(!BpeOps.refreshBpe(daily, scope, "tok", batchId = Some(101L)))
      assert(counts()("low") === low + 2)
      // a CORRUPT token in the version manifest (external damage —
      // the atomic rename never leaves one) fails loudly, naming the
      // file, instead of either wedging with a bare
      // NumberFormatException or silently re-merging a statistic that
      // may already contain the batch
      val current = Artifact.read(spark, scope, "tok")
      val manifest = new java.io.File(current.file.stripPrefix("file:"))
      val text = new String(java.nio.file.Files.readAllBytes(manifest.toPath), "UTF-8")
      assert(text.contains("refresh_token=101\n"))
      java.nio.file.Files.write(manifest.toPath,
        text.replace("refresh_token=101\n", "refresh_token=garbage\n").getBytes("UTF-8"))
      // drop the checksum sidecar the direct overwrite invalidated —
      // the simulated damage is to the CONTENT, not the transport
      java.nio.file.Files.deleteIfExists(
        new java.io.File(manifest.getParent, "._manifest.crc").toPath)
      val ex = intercept[IllegalStateException] {
        BpeOps.refreshBpe(daily, scope, "tok", batchId = Some(102L))
      }
      assert(ex.getMessage.contains(current.file))
      assert(ex.getMessage.contains("garbage"))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  /** The version directories of artifact `tok` on disk. */
  private def versions(scope: graft.core.Scope): Seq[String] =
    new java.io.File(scope.path("tok")).list().filter(_.matches("v\\d+")).sorted.toSeq

  test("refreshBpe killed mid-write leaves the previous version; a rerun applies the batch once") {
    val corpus = Seq(
      (1L, "low low low lower lower newest"),
      (2L, "newest newest widest low")).toDF("doc_id", "text")
    val batch = Seq(
      (3L, "widest widest widest widest widest newest")).toDF("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("graft-bpe-killed-")
    try {
      val scope = graft.core.Scopes.create(spark, base.toString)
      BpeOps.saveBpe(corpus, scope, "tok", nMerges = 3)
      val v1 = Artifact.read(spark, scope, "tok")
      def counts() = spark.read.parquet(Artifact.read(spark, scope, "tok").table("counts"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      def merges() = BpeOps.loadBpeMerges(spark, scope, "tok").collect().toSeq
      val (c1, m1) = (counts(), merges())
      // the refresh's count-merge job fails while it writes the next
      // version: meanwhile the stored counts hold a planted file whose
      // `cnt` is a string, which schema inference (one footer) may
      // pass over but the job's scan cannot read
      val stray = s"$base/stray"
      Seq(("x", "y")).toDF("w", "cnt").coalesce(1).write.parquet(stray)
      val planted = new java.io.File(v1.table("counts").stripPrefix("file:"),
        "part-99999-planted.parquet").toPath
      java.nio.file.Files.copy(new java.io.File(stray).listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath, planted)
      try intercept[Exception](BpeOps.refreshBpe(batch, scope, "tok"))
      finally java.nio.file.Files.delete(planted)
      // the previous version is still the one served, whole
      assert(Artifact.read(spark, scope, "tok") === v1)
      assert(counts() === c1)
      assert(merges() === m1)
      // re-running the same batch applies it, once
      assert(BpeOps.refreshBpe(batch, scope, "tok"))
      assert(!BpeOps.refreshBpe(batch, scope, "tok"))
      assert(counts()("widest") === c1("widest") + 5)
      assert(BpeOps.bpeRefreshGate(spark, scope, "tok",
        corpus.unionByName(batch)).count() === 0)
      // the killed attempt's directory went with the publish
      assert(versions(scope) === Seq(Artifact.read(spark, scope, "tok").dir
        .split('/').last))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }
}
