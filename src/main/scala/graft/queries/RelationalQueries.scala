package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops._
import graft.queries.QueryDef.t

/** TPC-H-style relational queries: filters, aggregates, joins, windows,
  * rollups and set operations, the reference client's unpivot-mean as
  * SQL, typed MapReduce, UDAF and pipe job, as-of and range joins, skew
  * salting, the Bloom-pruned join and the nation trade rank.
  */
private[graft] object RelationalQueries {
  private final val family = "relational"

  /** The 7 derived integer columns fed to the unpivot/mean queries —
    * the engine-side analogue of the reference test's 7-int-column
    * table (reference: test/src/.../EndToEndTest.java:160-165).
    * Definitions are mirrored exactly in [[q01Base]] SQL.
    */
  private def sevenIntCols(li: DataFrame): DataFrame =
    li.selectExpr(
      "cast(l_linenumber as bigint) as c0",
      "cast(floor(l_quantity) as bigint) as c1",
      "l_orderkey % 7 as c2",
      "l_partkey % 7 as c3",
      "l_suppkey % 7 as c4",
      "cast(floor(l_extendedprice) as bigint) % 7 as c5",
      "cast(floor(l_discount * 100) as bigint) % 7 as c6")

  private lazy val q01Base =
    """WITH base AS (
      |  SELECT cast(l_linenumber AS BIGINT) c0,
      |         cast(floor(l_quantity) AS BIGINT) c1,
      |         l_orderkey % 7 c2, l_partkey % 7 c3, l_suppkey % 7 c4,
      |         cast(floor(l_extendedprice) AS BIGINT) % 7 c5,
      |         cast(floor(l_discount * 100) AS BIGINT) % 7 c6
      |  FROM lineitem),
      |u AS (
      |  SELECT 0 AS id, c0 AS value FROM base
      |  UNION ALL SELECT 1, c1 FROM base
      |  UNION ALL SELECT 2, c2 FROM base
      |  UNION ALL SELECT 3, c3 FROM base
      |  UNION ALL SELECT 4, c4 FROM base
      |  UNION ALL SELECT 5, c5 FROM base
      |  UNION ALL SELECT 6, c6 FROM base)
      |SELECT id,
      |       (CAST(sum(value) AS BIGINT) // count(value))
      |         - (CAST(sum(value) AS BIGINT) % count(value)) * 100 AS mean
      |FROM u GROUP BY id""".stripMargin

  // ---- pipe scripts (reference: the client-supplied mapper/reducer
  // source strings of runStreamingMapReduce, EndToEndTest.java:84-98) ----
  private val pipeMapper =
    """#!/bin/sh
      |exec awk -F',' '{ for (i = 1; i <= NF; i++) printf "%d\t%d\n", i - 1, $i }'
      |""".stripMargin

  private val pipeReducer =
    """#!/bin/sh
      |exec awk -F'\t' '
      |  NR == 1 { k = $1 }
      |  $1 != k { printf "%s\t%d\n", k, s; k = $1; s = 0 }
      |  { s += $2; n++ }
      |  END { if (n > 0) printf "%s\t%d\n", k, s }'
      |""".stripMargin

  private def pipeQuery(s: SparkSession, dir: String): DataFrame = {
    val lines = t(s, dir, "lineitem").selectExpr(
      """concat_ws(',', cast(l_linenumber as bigint),
        |  cast(floor(l_quantity) as bigint), l_orderkey % 7) as line""".stripMargin)
    PipeOps.pipeMapReduceDF(lines, pipeMapper, pipeReducer)
      .selectExpr("cast(split(line, '\t')[0] as int) as id",
        "cast(split(line, '\t')[1] as bigint) as total")
  }

  /** The q118 oracle: [[graft.ops.GraphOps.nationTradeRank]]'s power
    * iterations generated round-for-round in the same all-integral
    * arithmetic (`//` floor division equals Spark's `div` truncation —
    * every quantity is non-negative).
    */
  private def pagerankSql: String = {
    val (iters, scale) = (3, 1000000000000L)
    val rounds = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT n.node,
         |         CAST(base + (85 * coalesce(f.s, 0)) // 100 AS BIGINT) AS pr
         |  FROM nodes n CROSS JOIN consts
         |  LEFT JOIN (
         |    SELECT e.dst, sum(r.pr // d.deg) AS s
         |    FROM edges e JOIN deg d ON e.src = d.src
         |    JOIN r${i - 1} r ON r.node = e.src
         |    GROUP BY e.dst) f ON f.dst = n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (
       |  SELECT DISTINCT CAST(s.s_nationkey AS BIGINT) AS src,
       |         CAST(c.c_nationkey AS BIGINT) AS dst
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |nodes AS (SELECT CAST(n_nationkey AS BIGINT) AS node FROM nation),
       |consts AS (
       |  SELECT (($scale * 15) // 100) // (SELECT count(*) FROM nation) AS base),
       |r0 AS (
       |  SELECT node,
       |         CAST($scale // (SELECT count(*) FROM nation) AS BIGINT) AS pr
       |  FROM nodes),
       |$rounds
       |SELECT node, pr FROM r$iters""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q01_unpivot_mean", family, (s, dir) =>
      MapReduceOps.unpivotGroupedMean(
        sevenIntCols(t(s, dir, "lineitem")),
        Seq("c0", "c1", "c2", "c3", "c4", "c5", "c6")),
      q01Base),
    QueryDef("q02_filter_project", family, (s, dir) =>
      Relational.filterProject(t(s, dir, "lineitem")),
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        |       l_returnflag, l_linestatus,
        |       strftime(l_shipdate, '%Y-%m-%d') AS ship_date
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1997-12-31 00:00:00'
        |  AND (l_returnflag = 'R' OR l_linestatus = 'F')""".stripMargin),
    QueryDef("q03_group_agg", family, (s, dir) =>
      Relational.groupAgg(t(s, dir, "lineitem")),
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        |       CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),
    QueryDef("q04_minmax", family, (s, dir) =>
      Relational.minMax(t(s, dir, "orders")),
      "SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi, count(*) AS n FROM orders"),
    QueryDef("q05_star_join", family, (s, dir) =>
      Relational.starJoin(t(s, dir, "orders"), t(s, dir, "customer"),
        t(s, dir, "nation"), t(s, dir, "region")),
      """SELECT r_name,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |       count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin),
    QueryDef("q06_distinct", family, (s, dir) =>
      Relational.distinctCount(t(s, dir, "orders")),
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust,
        |       count(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority""".stripMargin),
    QueryDef("q07_topk", family, (s, dir) =>
      Relational.topKCustomers(t(s, dir, "orders"), t(s, dir, "customer")),
      """SELECT c_custkey, c_name,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 10""".stripMargin),
    QueryDef("q08_window", family, (s, dir) =>
      Relational.customerOrderWindow(t(s, dir, "orders")),
      """SELECT o_custkey, o_orderkey,
        |       CAST(rank() OVER w AS INT) AS rnk,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |              OVER (PARTITION BY o_custkey
        |                    ORDER BY o_totalprice DESC, o_orderkey ASC
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS DOUBLE) AS running_total
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)""".stripMargin),
    QueryDef("q09_pipe", family, pipeQuery,
      """WITH base AS (
        |  SELECT CAST(l_linenumber AS BIGINT) v0,
        |         CAST(floor(l_quantity) AS BIGINT) v1,
        |         l_orderkey % 7 v2
        |  FROM lineitem),
        |u AS (
        |  SELECT 0 AS id, v0 AS value FROM base
        |  UNION ALL SELECT 1, v1 FROM base
        |  UNION ALL SELECT 2, v2 FROM base)
        |SELECT id, CAST(sum(value) AS BIGINT) AS total FROM u GROUP BY id""".stripMargin),
    QueryDef("q22_json", family, (s, dir) =>
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("bigint"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"))
        .select(col("event_type"), col("n"), col("sum_k"),
          (col("sum_k").cast("double") / col("n")).as("avg_k")),
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       CAST(CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS DOUBLE) / count(*) AS avg_k
        |FROM events GROUP BY event_type""".stripMargin),
    QueryDef("q24_typed_mapreduce", family, (s, dir) =>
      MapReduceOps.unpivotGroupedMeanTyped(s,
        sevenIntCols(t(s, dir, "lineitem")),
        Seq("c0", "c1", "c2", "c3", "c4", "c5", "c6")),
      q01Base),
    QueryDef("q26_approx_distinct", family, (s, dir) =>
      Relational.approxDistinctGate(t(s, dir, "orders")),
      // Approximate-operator gates: the engine emits VIOLATIONS (estimate
      // outside its error bound / recall@k below threshold, computed
      // against the exact operator in the same job); the oracle verifies
      // the violation set is empty, with matching schema.
      """SELECT CAST(NULL AS VARCHAR) AS o_orderpriority,
        |       CAST(NULL AS BIGINT) AS n_exact,
        |       CAST(NULL AS BIGINT) AS n_approx,
        |       CAST(NULL AS DOUBLE) AS rel_err
        |WHERE 1 = 0""".stripMargin),
    QueryDef("q29_rollup", family, (s, dir) =>
      Relational.rollupAgg(t(s, dir, "lineitem")),
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin),
    QueryDef("q30_setops", family, (s, dir) =>
      Relational.customerSetOps(t(s, dir, "orders")),
      """WITH a AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
        |b AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
        |SELECT o_custkey, 'both' AS op FROM (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b)
        |UNION ALL
        |SELECT o_custkey, 'only_1995' AS op FROM (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b)
        |UNION ALL
        |SELECT o_custkey, 'only_1996' AS op FROM (SELECT o_custkey FROM b EXCEPT SELECT o_custkey FROM a)""".stripMargin),
    QueryDef("q31_sql_subquery", family, (s, dir) =>
      Relational.sqlMaxOrderPerCustomer(t(s, dir, "orders")),
      Relational.maxOrderSql),
    QueryDef("q33_udaf_mean", family, (s, dir) =>
      Aggregators.unpivotGroupedMeanUdaf(s,
        sevenIntCols(t(s, dir, "lineitem")),
        Seq("c0", "c1", "c2", "c3", "c4", "c5", "c6")),
      q01Base),
    QueryDef("q35_pivot", family, (s, dir) =>
      Relational.pivotQuantities(t(s, dir, "lineitem")),
      """SELECT l_linestatus,
        |       CAST(sum(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS A,
        |       CAST(sum(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS N,
        |       CAST(sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS R
        |FROM lineitem GROUP BY l_linestatus""".stripMargin),
    QueryDef("q37_percentiles", family, (s, dir) =>
      Relational.percentiles(t(s, dir, "lineitem")),
      """SELECT l_returnflag,
        |       round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
        |       round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
        |       round(quantile_cont(l_extendedprice, 0.5), 6) AS p50_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    QueryDef("q39_cube", family, (s, dir) =>
      Relational.cubeAgg(t(s, dir, "lineitem")),
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       count(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin),
    QueryDef("q40_semi_anti", family, (s, dir) =>
      Relational.customerOrderExistence(t(s, dir, "customer"), t(s, dir, "orders")),
      """SELECT c_custkey, 'has_orders' AS status FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT c_custkey, 'no_orders' AS status FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin),
    QueryDef("q44_percentile_gate", family, (s, dir) =>
      Relational.approxPercentileGate(t(s, dir, "lineitem")),
      """SELECT CAST(NULL AS VARCHAR) AS l_returnflag,
        |       CAST(NULL AS DOUBLE) AS p50_approx,
        |       CAST(NULL AS DOUBLE) AS lo, CAST(NULL AS DOUBLE) AS hi
        |WHERE 1 = 0""".stripMargin),
    QueryDef("q45_asof_join", family, (s, dir) =>
      Relational.eventOrderAsof(t(s, dir, "events"), t(s, dir, "orders")),
      // DuckDB has a NATIVE ASOF JOIN — the engine's composed
      // union+window form must agree with it exactly.
      """WITH r AS (SELECT DISTINCT o_custkey % 50 AS key, o_orderdate FROM orders),
        |     l AS (SELECT event_id, user_id % 50 AS key, ts FROM events)
        |SELECT l.event_id, l.key,
        |       strftime(r.o_orderdate, '%Y-%m-%d') AS asof_date
        |FROM l ASOF LEFT JOIN r
        |  ON l.key = r.key AND r.o_orderdate <= l.ts""".stripMargin),
    QueryDef("q46_range_join", family, (s, dir) =>
      Relational.eventRangeCount(t(s, dir, "events")),
      // DuckDB plans the inequality condition natively (IEJoin); the
      // engine's binned equi-join form must agree exactly.
      """SELECT l.event_id, l.event_type,
        |       CAST(count(r.ts) AS BIGINT) AS n_prev
        |FROM events l LEFT JOIN events r
        |  ON l.event_type = r.event_type
        | AND epoch_us(r.ts) >= epoch_us(l.ts) - 1800000000
        | AND epoch_us(r.ts) < epoch_us(l.ts)
        |GROUP BY 1, 2""".stripMargin),
    // the NATIVE as-of operator (custom plan + strategy + merge exec)
    // held to the same DuckDB ASOF oracle as the composed q45
    QueryDef("q64_asof_native", family, (s, dir) =>
      Relational.eventOrderAsofNative(t(s, dir, "events"), t(s, dir, "orders")),
      // The native-operator form must agree with the same DuckDB ASOF
      // JOIN the composed q45 is held to.
      """WITH r AS (SELECT DISTINCT o_custkey % 50 AS key, o_orderdate FROM orders),
        |     l AS (SELECT event_id, user_id % 50 AS key, ts FROM events)
        |SELECT l.event_id, l.key,
        |       strftime(r.o_orderdate, '%Y-%m-%d') AS asof_date
        |FROM l ASOF LEFT JOIN r
        |  ON l.key = r.key AND r.o_orderdate <= l.ts""".stripMargin),
    // direction/tolerance generality of the native operator: forward
    // with a 30-day bound, and nearest with backward tie-break
    QueryDef("q79_asof_tolerance", family, (s, dir) =>
      Relational.eventOrderAsofForwardTol(t(s, dir, "events"), t(s, dir, "orders")),
      // FORWARD direction is DuckDB-native (the >= inequality); the
      // 30-day tolerance is a post-filter on the matched date, which is
      // equivalent because the forward pick is the earliest at-or-after
      // row — if it exceeds the bound, every at-or-after row does.
      """WITH r AS (SELECT DISTINCT o_custkey % 50 AS key, o_orderdate FROM orders),
        |     l AS (SELECT event_id, user_id % 50 AS key, ts FROM events)
        |SELECT l.event_id, l.key,
        |       CASE WHEN epoch_us(r.o_orderdate) - epoch_us(l.ts)
        |                   <= 30::BIGINT * 86400 * 1000000
        |            THEN strftime(r.o_orderdate, '%Y-%m-%d') END AS asof_date
        |FROM l ASOF LEFT JOIN r
        |  ON l.key = r.key AND r.o_orderdate >= l.ts""".stripMargin),
    QueryDef("q81_asof_nearest", family, (s, dir) =>
      Relational.eventOrderAsofNearest(t(s, dir, "events"), t(s, dir, "orders")),
      // NEAREST composes DuckDB's backward and forward ASOF picks and
      // keeps the smaller absolute distance, ties to the earlier row —
      // exactly the operator's two-candidate structure.
      """WITH r AS (SELECT DISTINCT o_custkey % 50 AS key, o_orderdate FROM orders),
        |     l AS (SELECT event_id, user_id % 50 AS key, ts FROM events),
        |b AS (SELECT l.event_id, r.o_orderdate bd FROM l ASOF LEFT JOIN r
        |        ON l.key = r.key AND r.o_orderdate <= l.ts),
        |f AS (SELECT l.event_id, r.o_orderdate fd FROM l ASOF LEFT JOIN r
        |        ON l.key = r.key AND r.o_orderdate >= l.ts)
        |SELECT l.event_id, l.key,
        |       strftime(
        |         CASE WHEN bd IS NOT NULL AND (fd IS NULL OR
        |                     epoch_us(l.ts) - epoch_us(bd)
        |                       <= epoch_us(fd) - epoch_us(l.ts))
        |              THEN bd ELSE fd END, '%Y-%m-%d') AS asof_date
        |FROM l JOIN b USING (event_id) JOIN f USING (event_id)""".stripMargin),
    // skew mitigation held to the UN-salted semantics: the oracle is
    // the plain aggregation/join, so the salting must be invisible in
    // the result (l_quantity is integer-valued, so double sums are
    // order-exact)
    QueryDef("q72_salted_sum", family, (s, dir) =>
      Skew.saltedSum(t(s, dir, "lineitem"), Seq("l_returnflag"), "l_quantity"),
      """SELECT l_returnflag, sum(l_quantity) AS sum_l_quantity
        |FROM lineitem GROUP BY 1""".stripMargin),
    QueryDef("q73_salted_join", family, (s, dir) =>
      Skew.saltedJoin(
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          col("l_suppkey").as("key")),
        t(s, dir, "supplier").select(col("s_suppkey").as("key"), col("s_name")),
        "key"),
      """SELECT l_suppkey AS key, l_orderkey, l_linenumber, s_name
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey""".stripMargin),
    // one-pass fixed-width histogram (20 × 25k bins over totalprice)
    QueryDef("q96_histogram", family, (s, dir) =>
      Relational.histogram(t(s, dir, "orders"), "o_totalprice",
        width = 25000.0, nBins = 20),
      // binning is floor(v / literal): correctly-rounded division, so
      // bit-identical bins on both engines; top bin absorbs overflow
      """SELECT bin, cnt, CAST(bin AS DOUBLE) * 25000.0 AS lo FROM (
        |  SELECT CAST(least(floor(o_totalprice / 25000.0), 19) AS INT) AS bin,
        |         count(*) AS cnt
        |  FROM orders WHERE o_totalprice IS NOT NULL
        |  GROUP BY 1)""".stripMargin),
    // integer PageRank over the nation trade graph: fact-table joins
    // reduce to a bounded edge set, then 3 exact power iterations
    QueryDef("q118_pagerank", family, (s, dir) =>
      GraphOps.nationTradeRank(t(s, dir, "lineitem"), t(s, dir, "orders"),
        t(s, dir, "customer"), t(s, dir, "supplier"), t(s, dir, "nation")),
      pagerankSql),
    // fact rows Bloom-pruned before the shuffle; the oracle is the
    // PLAIN join — the sketch must be semantics-invariant
    QueryDef("q122_bloom_join", family, (s, dir) =>
      Skew.bloomPrunedJoin(
          t(s, dir, "lineitem"),
          t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT"),
          "l_orderkey", "o_orderkey")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty")),
      // the plain join: Bloom pruning must be invisible to results
      """SELECT l_returnflag,
        |       count(*) AS n_items,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1""".stripMargin),
    // calendar gap-fill + forward fill per user; days surfaced as
    // epoch-day longs so the gate compares integer-exact
    QueryDef("q130_gapfill", family, (s, dir) =>
      TimeSeriesOps.gapFillDaily(t(s, dir, "events"), "user_id", "ts",
          "event_type", "event_id")
        .select(col("user_id"),
          datediff(col("day"), to_date(lit("1970-01-01")))
            .cast("long").as("day_no"),
          col("n_events"), col("cum_events"), col("last_type")),
      // same densification algorithm: per-key calendar from the key's
      // own span, left join, running sum + IGNORE NULLS forward fill;
      // epoch-day ints on both engines
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n_events,
        |         max_by(event_type, event_id) AS day_type
        |  FROM events GROUP BY 1, 2),
        |spans AS (
        |  SELECT user_id, min(day) AS min_d, max(day) AS max_d
        |  FROM daily GROUP BY 1),
        |calendar AS (
        |  SELECT user_id,
        |         CAST(unnest(generate_series(min_d, max_d, INTERVAL 1 DAY))
        |              AS DATE) AS day
        |  FROM spans),
        |j AS (
        |  SELECT c.user_id, c.day,
        |         COALESCE(d.n_events, 0) AS n_events, d.day_type
        |  FROM calendar c
        |  LEFT JOIN daily d ON c.user_id = d.user_id AND c.day = d.day)
        |SELECT user_id,
        |       date_diff('day', DATE '1970-01-01', day) AS day_no,
        |       n_events,
        |       CAST(sum(n_events) OVER w AS BIGINT) AS cum_events,
        |       last_value(day_type IGNORE NULLS) OVER w AS last_type
        |FROM j
        |WINDOW w AS (PARTITION BY user_id ORDER BY day
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin),
  )
}
