package graft

import graft.ops.{DedupOps, TextOps}

/** NULL/empty-text hardening: a web-scale corpus always contains rows
  * with missing or empty text, and every text-family operator must
  * degrade per-row (skip or zero), never crash the job or poison a
  * whole partition's output.
  */
class NullSafetySpec extends SparkSpec {
  import spark.implicits._

  private val dirty = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, null.asInstanceOf[String]),
    (3L, ""),
    (4L, "   \n\t  "),
    (5L, "the quick brown fox jumps over the lazy dog again and again"))
    .toDF("doc_id", "text")

  test("dedup family skips null/blank docs and still pairs the real duplicates") {
    val exact = DedupOps.exactDedup(dirty.filter($"text".isNotNull))
    assert(exact.count() > 0)

    val lsh = DedupOps.minhashLshPairs(dirty)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh === Set((1L, 5L))) // null/blank rows pair with nothing

    val jac = DedupOps.jaccardPairs(dirty)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(jac === Set((1L, 5L)))

    val win = DedupOps.winnowedPassagePairs(dirty)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(win === Set((1L, 5L)))

    val cont = DedupOps.overlapPairs(dirty)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cont === Set((1L, 5L)))
  }

  test("text analysis emits rows for null/blank docs with zeroed or null stats") {
    val toks = TextOps.tokenCounts(dirty).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n_ws_tokens")).toMap
    assert(toks(3L) === 0 && toks(4L) === 0)

    // stripRepeatedLines: empty text cleans to zero lines; the
    // whitespace doc keeps its tab line (trim is SPACE-only in both
    // engines — the q62/q87 shared convention)
    val stripped = TextOps.stripRepeatedLines(dirty.filter($"text".isNotNull))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Int]("n_lines")).toMap
    assert(stripped(3L) === 0 && stripped(4L) === 1)

    // fingerprints/collocations simply see no grams from blank docs;
    // three more copies of the real sentence lift its bigrams to the
    // 5-occurrence floor
    val copies = (6L to 8L).map(i => (i, "the quick brown fox jumps over " +
      "the lazy dog again and again")).toDF("doc_id", "text")
    assert(TextOps.collocations(dirty.union(copies)).count() > 0)
  }

  test("PII detect/redact zero out null/blank docs, never null the audit") {
    import org.apache.spark.sql.functions.col
    val det = graft.ops.PiiOps.piiDetect(dirty).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_email"), r.getAs[Boolean]("has_pii")))).toMap
    assert(det(2L) === ((0L, false))) // null text → zero counts, not null
    assert(det(3L) === ((0L, false)))
    val audit = graft.ops.PiiOps.piiRedact(dirty)
    // every row carries a non-null audit — a null n_residual would
    // vacuously pass the `=!= 0` self-gate downstream (q169)
    assert(audit.filter(col("n_residual").isNull or
      col("n_redactions").isNull or col("redacted_md5").isNull).count() === 0L)
    assert(audit.filter(col("n_residual") =!= 0L).count() === 0L)
  }

  test("vocabulary, domain cap, and best-of-cluster tolerate null/blank rows") {
    // null/blank text contributes no tokens; coverage still closes at 1
    val vocab = TextOps.vocabulary(dirty).collect()
    assert(vocab.nonEmpty)
    assert(vocab.map(_.getAs[Double]("cum_frac")).max === 1.0)

    // a null stratum groups like any other value and respects the cap
    val src = Seq((1L, "a"), (2L, "a"), (3L, null.asInstanceOf[String]),
      (4L, null.asInstanceOf[String]), (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "source")
    val capped = graft.ops.SampleOps.domainCap(src, "doc_id", "source", cap = 2)
      .collect().map(r => Option(r.getString(1)))
    assert(capped.count(_.isEmpty) === 2 && capped.count(_.nonEmpty) === 2)

    // best-of-cluster: null-text docs score null quality; max(struct)
    // still picks a non-null-quality member when one exists, and a
    // cluster OF null-text docs keeps a deterministic member
    val best = graft.ops.ClusterOps.bestOfClusterCorpus(
        dirty.withColumn("lang", org.apache.spark.sql.functions.lit("en"))
          .withColumn("source", org.apache.spark.sql.functions.lit("s"))
          .withColumn("n_chars",
            org.apache.spark.sql.functions.length($"text")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(best(1L) === 1L || best(1L) === 5L) // the dup pair resolves
    assert(best.size === 4) // 2,3,4 are singletons (null/blank text)
  }

  test("winsorize and vocabulary-encode tolerate null strata and null/blank text") {
    // null strata drop from the audit on BOTH engines (equi-join on
    // the stratum never matches null) — the documented contract
    val vals = Seq(("a", 1L), ("a", 2L), ("a", 100L),
      (null.asInstanceOf[String], 5L)).toDF("g", "v")
    val w = graft.ops.SampleOps.winsorize(vals, "v", "g")
      .collect().map(r => Option(r.getString(0)))
    assert(w === Array(Some("a"))) // the null stratum surfaces nowhere

    // null/blank docs contribute no tokens: they vanish from the
    // encoding (no token rows), real docs encode unaffected
    val enc = TextOps.encodeWithVocabulary(dirty)
      .collect().map(r => r.getLong(0)).toSet
    assert(enc === Set(1L, 5L))
  }
}
