package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.SparkEntry
import graft.ops.TextOps

/** Order-of-magnitude scale probe: replicates the sf0.1 fixture ×10
  * into an sf1-equivalent corpus and times the most expensive bench
  * queries at both scales in one process, so "would this plan hold a
  * decade up?" is measured, not assumed.
  *
  * Replicas are IDENTIFIER-DISJOINT (ids shifted per replica) and
  * TEXT-DISJOINT: every token is suffixed with the replica tag except
  * the language-marker stopwords, so langid/quality statistics — and
  * therefore each query's selectivity — carry over, while no shingle,
  * fingerprint, or minhash band collides across replicas (the
  * boilerplate all-stopword shingles that do collide are exactly what
  * the DF caps drop). Embeddings get a per-replica deterministic
  * jitter so cosine ties don't inflate kNN frontiers. Net effect: a
  * corpus 10× the rows with the same per-row structure — the honest
  * linear-scale-up probe.
  *
  * Usage: `sbt "runMain graft.tools.ScaleProbe [destDir]"` — generates
  * once (marker file), then prints per-query seconds at sf0.1 and sf1
  * and the per-row cost ratio (sf1_sec / (10 × sf0.1_sec)).
  */
object ScaleProbe {
  /** Replication factor — default ×10 (the per-round sf1 probe);
    * `SPARK_GRAFT_PROBE_FACTOR=100` runs the round-16 two-decade
    * probe (sf10-equivalent). Each factor keeps its own dest marker,
    * so the two corpora coexist under different dest dirs.
    */
  private val factor =
    sys.env.get("SPARK_GRAFT_PROBE_FACTOR").map(_.toInt).getOrElse(10)
  private val probeQueries = Seq(
    "q57_training_corpus", "q47_dedup_apply", "q54_stream_join",
    "q15_jaccard", "q24_typed_mapreduce", "q41_dedup_clusters",
    "q34_knn_ivf",
    // the decontamination join the flagships share (q177/q185/q186)
    "q68_contamination",
    // round-5 heavies: flagship v2 (winnow edges + priority tail),
    // the streaming near-dup path, containment's inverted index
    "q100_training_corpus_v2", "q82_stream_neardup", "q98_containment",
    // the artifact-amortization pair: the corpus-side search scales
    // with the corpus; the q120 probe (best-of-3 = probe-only, the
    // build is cached per dir) should stay near-flat at 10x
    "q106_keyword_search", "q120_postings_artifact",
    // round-5 second half + round-6: the compound ANN ladder top, the
    // incremental join/cluster/index algebra, and the single-scan
    // audit/profile surface (orders now replicates too, so the q133
    // join and q132 profile really see 10x BOTH sides)
    "q125_ivfpq", "q133_delta_join", "q127_audit_stream", "q132_profile",
    "q135_incr_clusters", "q136_ivfpq_artifact",
    // round-7: the events family re-probed with REAL timestamps end to
    // end (the ts representation feeds window/state arithmetic, so the
    // fix must be re-measured, not assumed), plus the new flagship tail
    "q92_funnel", "q93_retention", "q94_priority_sample",
    "q95_event_paths", "q99_funnel_stream", "q103_cdc_stream",
    "q130_gapfill", "q143_corpus_shards", "q144_mixture_sample",
    "q145_char_budget_mix",
    // round-8: the shard-artifact gates (q146 was round 7's heaviest
    // query and its exceptAll shape had no 10× measurement; q147 is
    // the digest audit that should beat it at scale), the BPE
    // fit/encode pair, and the thinned cost mixture (whose exchange
    // should shrink vs q145's as the thin bites)
    "q146_shard_artifact", "q147_shard_digest_audit",
    "q148_bpe_fit", "q149_bpe_encode", "q152_cost_budget_thinned",
    // round-8 second half: the token-count compositions (packing and
    // the budget mixture now pay a real BPE encode), the persisted
    // tokenizer (load + encode should amortize the fit away), span
    // dedup (span explosion is the 10× risk), and the bigram LM
    // (model truncation must keep the scoring join broadcast-sized)
    "q150_bpe_pack", "q151_token_budget_mix", "q153_bpe_artifact",
    "q155_span_dedup", "q156_bigram_lm",
    // round-8 tail: the fertility audit (encode pass + domain agg)
    // and the streaming encode (per-micro-batch = batch cost claim)
    "q157_bpe_fertility", "q158_stream_bpe_encode",
    "q159_bpe_pretok_fit", "q160_bpe_pretok_encode",
    "q161_corpus_manifest", "q162_dsir_weights",
    "q163_training_corpus_v3", "q164_stupid_backoff",
    // round-8 close: the DSIR selection tail (bounded-k rank over the
    // q162 weights) and the PII/URL safety gates (pure projections +
    // one broadcast join — the expected profile is scan-bound flat)
    "q165_dsir_select", "q166_pii_detect", "q167_pii_redact",
    "q168_url_blocklist",
    // the flagship safety tail: v3's plan + a topK-sized scrub join —
    // expected cost class = q163's
    "q169_redacted_corpus",
    // LM-floor calibration: q156's scoring pass + a value-histogram
    // window — the window input is distinct avg values, not rows
    "q170_lm_floor",
    // scrub-on-ingest: the per-micro-batch cost must track the batch
    // scrub (stateless, no state store to grow)
    "q171_stream_pii_scrub",
    // HTML ingestion: extraction/outlinks are pure projections
    // (scan-bound flat expected); canonical dedup shuffles once on
    // the canonical key
    "q172_html_extract", "q173_html_outlinks",
    "q174_url_canonical_dedup",
    // the crawl flagship: q172's chain + the lambda-filter verdict,
    // still a single projection — expected cost class = q172's
    "q175_crawl_ingest",
    // extract-on-ingest: per-micro-batch cost must track q175's batch
    "q176_stream_crawl_ingest",
    // the crawl→corpus flagship: q174 + q175 + the v3 gate chain over
    // the extracted text (checkpointed once) + the topK scrub tail —
    // expected cost class = q163's plus the extraction pass
    "q177_crawl_corpus",
    // maintained url-key artifact: seed + bucket-pruned anti-join
    // append + full-corpus probe; the probe join dominates
    "q178_url_key_artifact",
    // the same maintenance under the streaming loop (two waves)
    "q179_stream_url_keys",
    // host-graph PageRank: edge derivation scans the corpus once,
    // the iteration is vocabulary-sized — expected near-flat
    "q180_host_rank",
    // in-engine classifier fit: one feature pass + 3 bounded-agg
    // rounds over the checkpointed features
    "q181_quality_fit",
    // trained gate: the fit plus one scoring projection
    "q182_trained_gate",
    // tokenizer refresh gate: batch count pass + vocabulary-sized
    // merge/compare — O(batch + vocabulary), never O(corpus)
    "q183_bpe_refresh",
    // the WARC front door: split/frame/verify + extraction, one
    // zero-exchange projection — expected scan-bound flat like q172
    "q184_warc_ingest",
    // trained flagship: q177's plan + the 3-round fit (bounded aggs
    // over checkpointed features) — expected cost class = q177's
    "q185_trained_flagship",
    // the true front door: q177's plan + the framing projection ahead
    // of extraction — expected cost class = q177's
    "q186_warc_corpus",
    // the fetch-ordering composition: outlink projection + one canon
    // shuffle + bucket-layout anti-join + broadcast rank join +
    // WindowGroupLimit cap — no corpus-sized all-pairs anywhere
    "q187_crawl_frontier",
    // persisted rank artifact: build cached per dir, so the probe
    // times the gated reload — expected near-flat (vocabulary-sized)
    "q188_rank_artifact",
    // conservative-key audit: per-row key expressions + two bounded
    // window passes — expected q174's cost class
    "q189_param_canonical",
    // robots gate: broadcast rule sets + per-row array pipeline —
    // expected scan-bound flat (zero corpus-side exchanges)
    "q190_robots_gate",
    // polite frontier: q187's exchanges, thinned by the robots gate
    "q191_polite_frontier",
    // streaming crawl loop: per-micro-batch cost must track the batch
    // polite frontier + an O(batch) key append — stateless stream
    "q192_stream_crawl_loop",
    // fit eval: the q181 fit plus ONE more scan with 4·iters bounded
    // aggregates — expected cost class = q182's
    "q193_fit_eval",
    // anchor mining: regex projection + two explodes into one
    // (canon, term) exchange with map-side combine
    "q194_anchor_terms",
    // crawl funnel: one link-stage aggregation + checkpointed key
    // stages + vocabulary-sized assembly joins
    "q195_crawl_funnel",
    // refetch wave: one canon-key struct-max reduction + broadcast
    // rank + capped window — all-integer time arithmetic
    "q196_refetch_wave",
    // sitemap seeds: vocabulary-sized input through the frontier tail
    // — expected near-flat (only the stored-key side scales)
    "q197_sitemap_seeds",
    // wave scheduling: the q191 wave + a broadcast delay join —
    // expected q191's cost class exactly
    "q198_wave_schedule",
    // robots parse: vocabulary-sized raw bytes through a pure
    // projection + two explodes — expected flat (never corpus-sized)
    "q199_robots_parse",
    // maintained fetch log: seed reduction + one O(batch) bucket
    // upsert + the artifact-read due set — the read side scans one
    // already-reduced row per key
    "q200_fetchlog_artifact",
    // anchor-boosted frontier: q191's exchanges + the q194 anchor agg
    // + one canon-co-partitioned score join — expected q191 + q194
    "q201_anchor_frontier",
    // steady-state refetch: per wave, an artifact-read due set +
    // schedule — expected q200's cost class per wave
    "q202_steady_refetch",
    // WARC-fed loop: per-batch framing+gating projections ahead of
    // the q192 wave — expected q192's class plus the q184 scan
    "q203_stream_warc_loop",
    // fetch funnel: one scan, one bounded aggregation — expected
    // q184's scan-bound class
    "q204_fetch_funnel",
    // redirect-aware frontier: two zero-exchange channels (outlinks +
    // Location targets) under one candidate exchange — expected
    // q191's class plus a second framed scan
    "q205_redirect_frontier",
    // gzip front door: per-row multi-member inflate ahead of the
    // q184 chain — expected q184 plus the inflate CPU, still
    // scan-bound
    "q206_gzip_warc",
    // carried schedule: two q191 waves + two vocabulary-sized state
    // merges — expected 2x q191's class
    "q207_carried_schedule",
    // robots-maintaining WARC loop: q203's class + a per-wave
    // vocabulary-sized robots parse/upsert
    "q208_stream_robots_loop",
    // compacted fetch log: q200's chain + one full-table bucketed
    // rewrite (the epoch pass being measured)
    "q209_compacted_fetchlog",
    // gzip-fed loop: q203's class plus in-stream inflate per batch
    "q210_stream_gzip_loop",
    // retry gate: q205's class + one more bucketed anti-join, with
    // the attempt scan pruned to the TTL-fresh day partitions
    "q211_retry_frontier",
    // round-15: the fused wire-decode stage (chunked + gzip/deflate +
    // charset in ONE expression) — expected q184's scan-bound class
    "q212_content_encoding",
    // conditional refetch: pinned seed wave + two O(batch) artifact
    // upserts + the argmax read side — expected near-flat
    "q213_conditional_refetch",
    // retry gate in the loop: three streamed waves, each persisting
    // its framed batch once — per-wave cost must track q211's
    "q214_stream_retry_loop",
    // sitemap tree: vocabulary-sized walk + per-member inflate —
    // expected flat (never corpus-sized)
    "q215_sitemap_tree",
    // trap guard: the frontier plan + one per-row native predicate —
    // expected q191's class exactly
    "q216_trap_guard",
    // length cross-check: one fused http_frame projection — expected
    // q184's scan-bound class
    "q217_body_length_check",
    // round-16: revisit resolution — artifact reads + an O(touched)
    // store prune; expected q213's near-flat artifact class
    "q218_warc_revisit",
    // round-16: heuristic refetch — per-row date arithmetic over a
    // planted fixed-size log; expected flat (input never scales)
    "q219_heuristic_refetch",
    // round-16: sitemap discovery — the q215 walk with decl-selected
    // roots (one broadcast semi-join more); expected q215's flat class
    "q220_sitemap_discovery",
    // round-16: redirect chains — ≤5 bounded waves joining a shrinking
    // active set against the pinned O(3xx) edges; per-wave cost is a
    // fraction-of-archive shuffle join, expected near-linear overall
    "q221_redirect_chains",
    // round-16: robots availability — every input vocabulary-sized
    // (13 domains); expected flat (the probe measures the fixed cost)
    "q222_robots_availability",
    // round-16: sitemap-lastmod refetch — vocab-sized declared side,
    // bucket-pruned log read; the 10× log grows the pruned buckets'
    // contents, expected q200's near-flat artifact class
    "q223_sitemap_refetch",
    // round-16: unified scheduler — q219's per-row arithmetic plus
    // one broadcast declared join; expected q219's flat class
    "q224_unified_refetch",
    // round-16: feed discovery — vocab-sized feeds through the
    // frontier tail; the 10× corpus grows only the stored key side
    "q225_feed_seeds",
    // round-16: warc export round trip — construct + (gzip) +
    // re-frame per row, scan-bound; expected q184's class × 2 arms
    "q226_warc_export",
    // round-16: adaptive refetch — one pruned aggregation over a
    // fixed-size planted store; expected flat (input never scales)
    "q227_adaptive_refetch",
    // round-16: budgeted frontier — q191's plan + one broadcast
    // budget join; expected q191's class
    "q228_budgeted_frontier")

  private def markerSafeText(k: Int): org.apache.spark.sql.Column = {
    val markers = TextOps.langMarkers.map(_._1)
      .map(w => s"'${w}'").mkString(", ")
    expr(
      s"""array_join(transform(
         |  filter(split(trim(text), '[ \\\\t\\\\n\\\\x0B\\\\f\\\\r]+'), x -> x <> ''),
         |  t -> if(t in ($markers), t, concat(t, 'r$k'))), ' ')""".stripMargin)
  }

  /** The fixture convention is one FILE per table (the streaming
    * sources pathGlobFilter on that exact name), so write via a temp
    * directory and move the single part file into place.
    */
  private def writeSingle(df: DataFrame, dest: String, name: String): Unit = {
    val tmp = s"$dest/_tmp_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file written for $name"))
    Files.createDirectories(Paths.get(dest))
    Files.move(part.toPath, Paths.get(s"$dest/$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  private def replicate(spark: SparkSession, src: String, dest: String): Unit = {
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val nDocs = 1L + docs.agg(max("doc_id")).head.getLong(0)
    writeSingle((0 until factor).map { k =>
      docs.select(
        (col("doc_id") + lit(k * nDocs)).as("doc_id"),
        (if (k == 0) col("text") else markerSafeText(k)).as("text"),
        col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")))
    }.reduce(_ unionByName _), dest, "documents")

    // route through THE events loader (graft.io.Tables.events): it
    // normalizes whatever physical ts encoding the source fixture
    // carries to a session-zone TIMESTAMP, and the replica is written
    // back as a plain timestamp — which the same loader passes through
    val ev = graft.io.Tables.events(spark, src)
    val nEv = 1L + ev.agg(max("event_id")).head.getLong(0)
    val nUsers = 1L + ev.agg(max("user_id")).head.getLong(0)
    writeSingle((0 until factor).map { k =>
      ev.select((col("event_id") + lit(k * nEv)).as("event_id"), col("ts"),
        (col("user_id") + lit(k * nUsers)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _), dest, "events")

    // lineitem and orders shift their SHARED order-key space by one
    // constant so the replicated join graph is 10 disjoint copies of
    // the original — q133's two-sided delta join sees 10x on BOTH
    // sides, not a 90%-dangling probe side
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    val ord = spark.read.parquet(s"$src/orders.parquet")
    val nOrd = 1L + math.max(
      li.agg(max("l_orderkey")).head.getLong(0),
      ord.agg(max("o_orderkey")).head.getLong(0))
    writeSingle((0 until factor).map { k =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(k * nOrd))
    }.reduce(_ unionByName _), dest, "lineitem")
    writeSingle((0 until factor).map { k =>
      ord.withColumn("o_orderkey", col("o_orderkey") + lit(k * nOrd))
    }.reduce(_ unionByName _), dest, "orders")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val nVec = 1L + emb.agg(max("vec_id")).head.getLong(0)
    writeSingle((0 until factor).map { k =>
      emb.select((col("vec_id") + lit(k * nVec)).as("vec_id"),
        expr(s"""transform(embedding, (x, j) ->
                 |cast(x + 0.002 * $k * (pmod(j * 31 + $k * 17, 97) / 97.0 - 0.5) as float))"""
          .stripMargin).as("embedding"))
    }.reduce(_ unionByName _), dest, "embeddings")

    // small dims referenced by fixture loaders ride along unchanged
    Seq("region", "nation", "customer", "supplier", "part")
      .foreach { t =>
        Files.copy(Paths.get(s"$src/$t.parquet"),
          Paths.get(s"$dest/$t.parquet"), StandardCopyOption.REPLACE_EXISTING)
      }
  }

  private def time(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** `SPARK_GRAFT_PROBE_FORCE=1` switches the consumer from `count()`
    * (the bench protocol — but column pruning makes it scan-only for
    * pure-projection queries like the PII scrubs) to a hash-sum over
    * every output column, which defeats pruning and times the actual
    * per-row work.
    */
  private val force = sys.env.get("SPARK_GRAFT_PROBE_FORCE").contains("1")

  /** Best-of-N timing; `SPARK_GRAFT_PROBE_RUNS` trims N for the
    * one-off ×100 probe (its corpus makes 3 full runs per query an
    * hour-class budget; best-of-2 keeps the warm-cache read).
    */
  private val probeRuns =
    sys.env.get("SPARK_GRAFT_PROBE_RUNS").map(_.toInt).getOrElse(3)

  private def bench(spark: SparkSession, dir: String, q: String,
                    runs: Int = probeRuns): Double =
    (1 to runs).map { _ =>
      time {
        val df = SparkEntry.queries(q)(spark, dir)
        if (force)
          // collect() the one-row aggregate — a trailing count() would
          // let Catalyst prune the hash AND the aggregate (count needs
          // no columns), silently reverting to scan-only timing.
          // bit_xor, not sum: summing 64-bit hashes overflows long
          // under ANSI mode
          df.select(org.apache.spark.sql.functions.xxhash64(
              df.columns.map(org.apache.spark.sql.functions.col): _*).as("h"))
            .agg(org.apache.spark.sql.functions.expr("bit_xor(h)")).collect()
        else df.count()
      }
    }.min

  def main(args: Array[String]): Unit = {
    val src = "/root/testdata/sf0.1"
    val dest = if (args.nonEmpty) args(0) else "target/sf1-probe"
    val spark = SparkSession.builder()
      .master("local[32]").config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // v3: regenerate from the round-6 regenerated fixtures (ts now a
    // real timestamp; the replica rides the normalized loader output);
    // the marker is factor-qualified so a ×100 corpus never
    // masquerades as the ×10 one
    val marker = new java.io.File(
      s"$dest/_PROBE_READY_v3" + (if (factor == 10) "" else s"_x$factor"))
    if (!marker.exists()) {
      println(s"[scale-probe] generating ${factor}x corpus under $dest")
      replicate(spark, src, dest)
      marker.getParentFile.mkdirs(); marker.createNewFile()
    }
    // dev-loop filter: comma-separated names; unset = the full set
    val only = sys.env.get("SPARK_GRAFT_PROBE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    probeQueries.filter(q => only.forall(_.contains(q))).foreach { q =>
      val s01 = bench(spark, src, q)
      val s1 = bench(spark, dest, q)
      println(f"""{"query":"$q","factor":$factor,"sf0_1_sec":$s01%.3f,"sf1_sec":$s1%.3f,"per_row_ratio":${s1 / (factor * s01)}%.3f}""")
    }
    spark.stop()
  }
}
