package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{Layout, Tables}
import graft.ops._
import graft.queries.DuckSql._
import graft.queries.QueryDef.t

/** Storage queries: JSONL, CSV and ORC round trips, bucketed,
  * partitioned and z-ordered layouts, schema evolution, MERGE, snapshot
  * diff and SCD2, the distinct-count sketch artifact, and data-quality
  * constraints and profiles.
  */
private[graft] object StorageQueries {
  private final val family = "storage"

  /** Q48: the JSONL interchange path exercised END TO END — documents
    * written as JSON-lines, read back under a declared schema, then
    * put through the q20 token statistics; the oracle (q20's SQL over
    * the parquet originals) passes only if the round trip is lossless
    * including whitespace/unicode in `text`.
    */
  private def jsonlRoundTrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = Memo.dir("graft-q48-", dir)(_ => ())
    Tables.writeJsonl(t(s, dir, "documents").select("doc_id", "text"), tmp)
    TextOps.tokenCounts(Tables.jsonl(s, tmp, "doc_id bigint, text string"))
  }

  /** q141: PERMISSIVE ingest with CORRUPT-RECORD ACCOUNTING — the
    * schema-on-read resilience every crawl ingest needs: a JSONL feed
    * where every doc_id ≡ 13 (mod 97) line is truncated mid-object is
    * read with `_corrupt_record` in the DDL, and the audit reports
    * good rows per lang beside the corrupt-line count — bad data is
    * DATA (quarantined and counted), not an outage. The oracle
    * re-derives both sides from the clean table and the deterministic
    * mangling rule, so a reader that silently drops (or mis-parses)
    * corrupt lines cannot pass.
    */
  private def corruptJsonlAudit(s: SparkSession, dir: String): DataFrame = {
    val tmp = Memo.dir("graft-q141-", dir) { d =>
      t(s, dir, "documents").select(
        when(col("doc_id") % 97 === 13,
          concat(lit("{\"doc_id\":"), col("doc_id"), lit(",\"lang\":")))
          // to_json escapes quotes/backslashes and renders null lang
          // legally — a hand-concat would silently mis-account both
          .otherwise(to_json(struct(col("doc_id"), col("lang"))))
          .as("value"))
        .write.mode("overwrite").text(d)
    }
    val raw = Tables.jsonl(s, tmp,
      "doc_id bigint, lang string, _corrupt_record string")
    raw.groupBy(
        when(col("_corrupt_record").isNotNull, lit("corrupt"))
          .otherwise(lit("ok")).as("status"),
        when(col("_corrupt_record").isNotNull, lit(null).cast("string"))
          .otherwise(col("lang")).as("lang"))
      .agg(count(lit(1)).as("n"))
  }

  /** q75: supplier through the CSV sink and the schema-typed CSV
    * source — long, int, string, and double columns must survive the
    * text round trip bit-exactly against the parquet original
    * (TablesSpec stresses quoting with planted delimiter/quote/newline
    * content).
    */
  private def csvRoundTrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = Memo.dir("graft-q75-", dir)(_ => ())
    Tables.writeCsv(t(s, dir, "supplier"), tmp)
    Tables.csvTyped(s, tmp,
      "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double")
  }

  /** q86: ORC round trip — the Hive-era columnar interchange format.
    * Unlike CSV (q75), ORC embeds its schema, so the read-back needs
    * no DDL and must reproduce exact types; the oracle reads the
    * ORIGINAL parquet, proving the format hop is lossless.
    */
  private def orcRoundTrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = Memo.dir("graft-q86-", dir) { d =>
      Tables.writeOrc(t(s, dir, "part")
        .select("p_partkey", "p_name", "p_brand", "p_retailprice"), d)
    }
    Tables.orc(s, tmp)
  }

  /** q111: the MERGEABLE distinct-count sketch exercised as a STORAGE
    * ARTIFACT — the even half of the corpus is sketched per source
    * ONCE and persisted under a [[graft.core.Scope]]; the odd half
    * arrives as the ingest batch, is sketched alone (O(batch)), and
    * the RELOADED artifact + batch sketches are union-merged and
    * estimated — the incremental path never re-reads history rows.
    * Held to [[SketchOps.distinctSketchGate]]'s exact-count bound over
    * the full union; oracle expects the violation set empty.
    */
  private def sketchArtifactGate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val scope = Memo.scope("graft-q111-", s, dir) { sc =>
      graft.core.Scopes.save(
        SketchOps.perKeySketch(docs.filter(col("doc_id") % 2 === 0),
          "source", "doc_id"), sc, "distinct_sketch")
    }
    SketchOps.distinctSketchGate(
      graft.core.Scopes.load(s, scope, "distinct_sketch"),
      docs.filter(col("doc_id") % 2 === 1), docs, "source", "doc_id")
  }

  /** q121: schema evolution — the documents "dataset" written as two
    * producer generations (v1 shards without `lang`, v2 shards with
    * it), read back through mergeSchema into the union schema with
    * nulls where v1 had no column. The oracle re-derives the same
    * frame from the source table, so the merged read must neither drop
    * nor invent values. Shards build once per (process, sf dir).
    */
  private def mergedSchemaRead(s: SparkSession, dir: String): DataFrame = {
    val root = Memo.dir("graft-q121-", dir) { d =>
      val docs = t(s, dir, "documents")
      docs.filter(col("doc_id") % 2 === 0)
        .select("doc_id", "source", "n_chars")
        .write.mode("overwrite").parquet(d + "/v1")
      docs.filter(col("doc_id") % 2 === 1)
        .select("doc_id", "source", "n_chars", "lang")
        .write.mode("overwrite").parquet(d + "/v2")
    }
    graft.io.Tables.parquetMerged(s, s"$root/v1", s"$root/v2")
      .select("doc_id", "source", "n_chars", "lang")
  }

  /** q84: the write-once/join-many bucketed layout — orders and
    * customer are materialized as tables bucketed+sorted on custkey
    * ([[graft.io.Layout.writeBucketed]]), so the per-query join runs
    * with NO exchange on either input: the shuffle is paid once at
    * write time, not per query (the one remaining exchange is the
    * final tiny segment aggregate — PlanSpec asserts the count). The
    * merge hint keeps the deliberately-bucketed sort-merge path even
    * at fixture scale where the small side would otherwise broadcast
    * and mask the layout. Tables build once per (process, sf dir) so
    * the bench times the join, not the write.
    */
  private def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val (ot, ct) = Memo("graft_q84", dir) {
      val sfx = (dir.hashCode & 0x7fffffff).toString
      val ot = s"graft_q84_orders_$sfx"
      val ct = s"graft_q84_customer_$sfx"
      graft.io.Layout.writeBucketed(
        t(s, dir, "orders").select("o_custkey", "o_totalprice"), ot, "o_custkey")
      graft.io.Layout.writeBucketed(
        t(s, dir, "customer").select("c_custkey", "c_mktsegment"), ct, "c_custkey")
      (ot, ct)
    }
    s.table(ot).join(s.table(ct).hint("merge"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
  }

  /** q90: partition-pruned layout — events land partitioned by
    * event_type ([[graft.io.Layout.writePartitioned]], sorted by ts
    * inside each partition for row-group stats), so the 'click'
    * aggregate reads ONLY the click directory: the predicate is
    * satisfied at file-listing time (PartitionFilters, PlanSpec-
    * asserted), not per row. The oracle is the plain filter over the
    * original table — layout invisible to results, like q84.
    */
  private def partitionedScan(s: SparkSession, dir: String): DataFrame = {
    val tmp = Memo.dir("graft-q90-", dir) { d =>
      graft.io.Layout.writePartitioned(t(s, dir, "events"), d + "/events",
        partitionCols = Seq("event_type"), sortCols = Seq("ts"))
    }
    s.read.parquet(s"$tmp/events")
      .filter(col("event_type") === "click")
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("total"))
  }

  /** q88/q89 fixture: a deterministic MERGE scenario over orders.
    * `existing` drops every third key (so the diff shows removals),
    * the update batch modifies every fifth key (price bump, priority
    * flag) and inserts shifted copies of every eleventh key — giving
    * the upsert all three row fates and the snapshot diff all three
    * change classes.
    */
  private def ordersNarrow(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")

  private def mergeUpserted(s: SparkSession, dir: String): DataFrame = {
    val narrow = ordersNarrow(s, dir)
    val existing = narrow.filter(col("o_orderkey") % 3 =!= 0)
    val updates = narrow.filter(col("o_orderkey") % 5 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000)
      .withColumn("o_orderpriority", lit("UPDATED"))
      .unionByName(narrow.filter(col("o_orderkey") % 11 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
    MergeOps.upsert(existing, updates, Seq("o_orderkey"))
  }

  /** The q112 oracle's bit-interleave, generated term-for-term so the
    * SQL provably matches [[graft.io.Layout.zValue]]'s bit placement:
    * bit i of `a` → position 2i, bit i of `b` → 2i+1.
    */
  private def zInterleaveSql(a: String, b: String): String =
    (0 until 16).flatMap { i =>
      Seq(s"((($a >> $i) & 1) << ${2 * i})", s"((($b >> $i) & 1) << ${2 * i + 1})")
    }.mkString(" | ")

  val defs: Seq[QueryDef] = Seq(
    // bucketed layout: the join's shuffle was paid once at write time
    QueryDef("q84_bucketed_join", family, bucketedJoin,
      // the bucketed layout must be invisible to results: the oracle is
      // the PLAIN join over the same parquet
      """SELECT c_mktsegment,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin),
    QueryDef("q48_jsonl_roundtrip", family, jsonlRoundTrip,
      // identical oracle as q20: the engine side must survive a JSONL
      // round trip losslessly to match it
      s"""SELECT doc_id,
         |       CAST(len($duckToks) AS INT) AS n_ws_tokens,
         |       CAST(len(regexp_extract_all(text, '${TextOps.bpeTokenRe}')) AS INT) AS n_bpe_tokens
         |FROM documents""".stripMargin),
    // corrupt lines are data: quarantined + counted, never dropped
    QueryDef("q141_corrupt_jsonl", family, corruptJsonlAudit,
      // the mangling rule replayed: ok rows per lang from the clean
      // table, corrupt count from the rule's complement
      """SELECT 'ok' AS status, lang, count(*) AS n
        |FROM documents WHERE doc_id % 97 <> 13 GROUP BY lang
        |UNION ALL
        |SELECT 'corrupt', CAST(NULL AS VARCHAR), count(*)
        |FROM documents WHERE doc_id % 97 = 13
        |HAVING count(*) > 0""".stripMargin),
    QueryDef("q75_csv_roundtrip", family, csvRoundTrip,
      "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier"),
    QueryDef("q86_orc_roundtrip", family, orcRoundTrip,
      "SELECT p_partkey, p_name, p_brand, p_retailprice FROM part"),
    // keyed MERGE (latest-wins upsert) as a plan-level rewrite
    QueryDef("q88_upsert", family, mergeUpserted,
      // the MERGE rewrite re-derived relationally: NOT IN + UNION ALL
      """WITH narrow AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |  FROM orders),
        |existing AS (SELECT * FROM narrow WHERE o_orderkey % 3 <> 0),
        |updates AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice + 1000 AS o_totalprice,
        |         'UPDATED' AS o_orderpriority
        |  FROM narrow WHERE o_orderkey % 5 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_custkey, o_totalprice, o_orderpriority
        |  FROM narrow WHERE o_orderkey % 11 = 0)
        |SELECT * FROM existing
        |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
        |UNION ALL
        |SELECT * FROM updates""".stripMargin),
    // snapshot diff: added/removed/changed between table versions
    QueryDef("q89_snapshot_diff", family, (s, dir) =>
      MergeOps.snapshotDiff(ordersNarrow(s, dir), mergeUpserted(s, dir),
        Seq("o_orderkey")),
      // diff via full-outer with IS DISTINCT FROM per value column
      """WITH narrow AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |  FROM orders),
        |existing AS (SELECT * FROM narrow WHERE o_orderkey % 3 <> 0),
        |updates AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice + 1000 AS o_totalprice,
        |         'UPDATED' AS o_orderpriority
        |  FROM narrow WHERE o_orderkey % 5 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_custkey, o_totalprice, o_orderpriority
        |  FROM narrow WHERE o_orderkey % 11 = 0),
        |merged AS (
        |  SELECT * FROM existing
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
        |  UNION ALL
        |  SELECT * FROM updates)
        |SELECT * FROM (
        |  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |         CASE WHEN o.o_orderkey IS NULL THEN 'added'
        |              WHEN n.o_orderkey IS NULL THEN 'removed'
        |              WHEN o.o_custkey IS DISTINCT FROM n.o_custkey
        |                OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
        |                OR o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
        |                THEN 'changed' END AS change
        |  FROM narrow o FULL OUTER JOIN merged n
        |    ON o.o_orderkey = n.o_orderkey)
        |WHERE change IS NOT NULL""".stripMargin),
    // partition-pruned scan: predicate satisfied at file-listing time
    QueryDef("q90_partitioned_scan", family, partitionedScan,
      // layout invisible to results: the oracle is the plain filter
      """SELECT event_type,
        |       count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM events WHERE event_type = 'click'
        |GROUP BY 1""".stripMargin),
    // persisted per-source HLL sketches merged with an O(batch) ingest
    // sketch, gated against the exact distinct over the union
    QueryDef("q111_sketch_artifact", family, sketchArtifactGate,
      // persist → reload → merge lifecycle gate: violations must be empty
      """SELECT CAST(NULL AS VARCHAR) AS source,
        |       CAST(NULL AS BIGINT) AS n_exact,
        |       CAST(NULL AS BIGINT) AS n_approx,
        |       CAST(NULL AS DOUBLE) AS rel_err
        |WHERE 1 = 0""".stripMargin),
    // bit-interleaved z-order key over min-max-scaled (partkey, suppkey)
    QueryDef("q112_zorder", family, (s, dir) =>
      Layout.zorderKey(t(s, dir, "lineitem"), "l_partkey", "l_suppkey")
        .select(col("l_orderkey"), col("l_linenumber"), col("__z").as("zval")),
      // exact integer min-max scaling (// is DuckDB integer division,
      // matching gridScale's proven-exact floor) + the same 16-bit
      // interleave, generated term-for-term by zInterleaveSql
      s"""WITH bounds AS (
         |  SELECT min(l_partkey) alo, max(l_partkey) ahi,
         |         min(l_suppkey) blo, max(l_suppkey) bhi
         |  FROM lineitem),
         |scaled AS (
         |  SELECT l_orderkey, l_linenumber,
         |         CASE WHEN ahi <= alo THEN 0
         |              ELSE ((l_partkey - alo) * 65535) // (ahi - alo) END AS ka,
         |         CASE WHEN bhi <= blo THEN 0
         |              ELSE ((l_suppkey - blo) * 65535) // (bhi - blo) END AS kb
         |  FROM lineitem, bounds)
         |SELECT l_orderkey, l_linenumber,
         |       CAST(${zInterleaveSql("ka", "kb")} AS BIGINT) AS zval
         |FROM scaled""".stripMargin),
    // two producer generations merged into the union schema: v1 shards
    // null-fill the column they never had
    QueryDef("q121_schema_evolution", family, mergedSchemaRead,
      // the union-schema read re-derived from the source table: v2 rows
      // (odd ids) keep lang, v1 rows surface NULL
      """SELECT doc_id, source, n_chars,
        |       CASE WHEN doc_id % 2 = 1 THEN lang END AS lang
        |FROM documents""".stripMargin),
    // the pre-promotion contract audit: all row checks in ONE scan,
    // plus key uniqueness and lineitem→orders referential integrity
    QueryDef("q126_constraints", family, (s, dir) => {
      val li = t(s, dir, "lineitem"); val ord = t(s, dir, "orders")
      Constraints.audit(li, Seq(
          "l_quantity_range" -> !col("l_quantity").between(1, 50),
          "l_discount_range" -> !col("l_discount").between(0, 1),
          "l_shipdate_notnull" -> col("l_shipdate").isNull))
        .unionByName(Constraints.uniqueness(ord, "o_orderkey_unique",
          Seq("o_orderkey")))
        .unionByName(Constraints.referential(li, "l_orderkey",
          ord, "o_orderkey", "l_orderkey_fk"))
    },
      // every audit row re-derived as plain SQL: conditional counts,
      // n_rows − n_distinct keys, and the anti-join orphan count
      """SELECT 'l_quantity_range' AS check_name,
        |       CAST(count(*) AS BIGINT) AS n_checked,
        |       CAST(sum(CASE WHEN NOT (l_quantity BETWEEN 1 AND 50)
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_discount_range',
        |       CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN NOT (l_discount BETWEEN 0 AND 1)
        |                     THEN 1 ELSE 0 END) AS BIGINT)
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_shipdate_notnull',
        |       CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
        |            AS BIGINT)
        |FROM lineitem
        |UNION ALL
        |SELECT 'o_orderkey_unique',
        |       CAST(count(*) AS BIGINT),
        |       CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
        |FROM orders WHERE o_orderkey IS NOT NULL
        |UNION ALL
        |SELECT 'l_orderkey_fk',
        |       CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
        |            AS BIGINT)
        |FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        |  ON l.l_orderkey = o.o_orderkey
        |WHERE l.l_orderkey IS NOT NULL""".stripMargin),
    // SCD2 history of order status per customer; validity bounds as
    // epoch µs (null valid_to = current)
    QueryDef("q131_scd2", family, (s, dir) =>
      MergeOps.scd2(t(s, dir, "orders"), "o_custkey", "o_orderstatus",
          "o_orderdate", "o_orderkey")
        .select(col("o_custkey"), col("o_orderstatus"),
          unix_micros(col("valid_from").cast("timestamp_ltz"))
            .as("valid_from_us"),
          unix_micros(col("valid_to").cast("timestamp_ltz"))
            .as("valid_to_us"),
          col("is_current")),
      // gaps-and-islands re-derived: lag over the raw feed marks change
      // rows, lead over the change rows closes intervals; µs space
      """WITH feed AS (
        |  SELECT o_custkey, o_orderstatus, epoch_us(o_orderdate) AS t,
        |         o_orderkey
        |  FROM orders),
        |marked AS (
        |  SELECT *, lag(o_orderstatus) OVER
        |    (PARTITION BY o_custkey ORDER BY t, o_orderkey) AS prev
        |  FROM feed),
        |changes AS (
        |  SELECT o_custkey, o_orderstatus, t, o_orderkey FROM marked
        |  WHERE (prev IS NULL AND o_orderstatus IS NOT NULL)
        |     OR prev <> o_orderstatus)
        |SELECT o_custkey, o_orderstatus,
        |       t AS valid_from_us,
        |       lead(t) OVER w AS valid_to_us,
        |       CAST(lead(t) OVER w IS NULL AS INT) AS is_current
        |FROM changes
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY t, o_orderkey)""".stripMargin),
    // one-scan column profile of orders (long/string columns — their
    // string rendering is engine-identical)
    QueryDef("q132_profile", family, (s, dir) =>
      Constraints.profile(t(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")),
      // per-column UNION ALL — k scans here where the engine does ONE
      // Expand pass; results must agree exactly
      Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority")
      .map(c =>
        s"""SELECT '$c' AS column_name,
           |       count($c) AS n_nonnull,
           |       count(*) - count($c) AS n_null,
           |       count(DISTINCT $c) AS n_distinct,
           |       CAST(min($c) AS VARCHAR) AS min_val,
           |       CAST(max($c) AS VARCHAR) AS max_val
           |FROM orders""".stripMargin)
      .mkString("\nUNION ALL\n")),
    // join-view maintenance: stored view + Δ(L⋈R) must equal the full
    // join of the grown inputs (the oracle is the PLAIN join — the
    // incremental algebra has to be invisible in the result)
    QueryDef("q133_delta_join", family, (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
      val oldL = li.filter(col("l_linenumber") <= 4)
      val dL = li.filter(col("l_linenumber") > 4)
      val oldR = ord.filter(col("o_orderkey") % 3 =!= 0)
      val dR = ord.filter(col("o_orderkey") % 3 === 0)
      MergeOps.joinViewDelta(oldL, dL, oldR, dR, "l_orderkey", "o_orderkey")
        .unionByName( // the stored view, built before the batches landed
          oldL.join(oldR, col("l_orderkey") === col("o_orderkey")))
        .select("l_orderkey", "l_linenumber", "l_returnflag",
          "o_custkey", "o_orderpriority")
    },
      // the maintained view must equal the plain join — no incremental
      // term may duplicate or drop a pair
      """SELECT l_orderkey, l_linenumber, l_returnflag,
        |       o_custkey, o_orderpriority
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin),
    // order-independent replication digest over engine-portable
    // (integer/string) columns
    QueryDef("q134_digest", family, (s, dir) =>
      Constraints.contentDigest(t(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")),
      // same 60-bit row hash, XOR'd AND summed mod 2^60 — both combines
      // order-independent on both engines; each column canonicalized as
      // length ':' value with NULL as -1: (prefix-unambiguous, so NULLs
      // and separator-bearing values cannot collide)
      {
      def canon(c: String) =
        s"concat(COALESCE(length($c::VARCHAR), -1)::VARCHAR, ':', " +
          s"COALESCE($c::VARCHAR, ''))"
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority").map(canon).mkString(",\n        ")
      s"""WITH h AS (
         |  SELECT CAST(('0x' || substr(md5(concat_ws(chr(1),
         |        $cols)),
         |      1, 15)) AS BIGINT) AS rh
         |  FROM orders)
         |SELECT count(*) AS n_rows,
         |       COALESCE(bit_xor(rh), 0) AS digest,
         |       CAST(COALESCE(sum(CAST(rh AS HUGEINT)), 0)
         |            % 1152921504606846976 AS BIGINT) AS digest_sum
         |FROM h""".stripMargin
    }),
  )
}
