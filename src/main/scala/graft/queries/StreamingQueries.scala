package graft.queries

import org.apache.spark.sql.functions._

import graft.queries.QueryDef.t
import graft.streaming.EventsStreaming

/** Event-stream queries: windowed and sessionized aggregates, funnels,
  * retention and event paths, CDC and constraint audits, each with its
  * Structured Streaming twin held to the batch answer.
  */
private[graft] object StreamingQueries {
  private final val family = "streaming"

  private lazy val q10Sql =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
      |       event_type, count(*) AS n,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Q32's gaps-and-islands sessions; also the oracle of the STREAMING
    * sessionizer (q58), which must reproduce the batch result exactly.
    */
  private lazy val sessionizeSql =
    """WITH x AS (
      |  SELECT user_id, ts, value, epoch_us(ts) us,
      |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) prev_us,
      |         event_id
      |  FROM events),
      |y AS (
      |  SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
      |                 THEN 1 ELSE 0 END new_sess FROM x),
      |z AS (
      |  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) session_id
      |  FROM y)
      |SELECT user_id, session_id,
      |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |       count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM z GROUP BY user_id, session_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q10_event_window", family, (s, dir) =>
      EventsStreaming.hourlyByType(t(s, dir, "events")),
      q10Sql),
    QueryDef("q25_stream_window", family, (s, dir) =>
      EventsStreaming.hourlyByTypeStreaming(s, dir),
      q10Sql),
    QueryDef("q32_sessionize", family, (s, dir) =>
      EventsStreaming.sessionize(t(s, dir, "events")),
      sessionizeSql),
    QueryDef("q36_sliding_window", family, (s, dir) =>
      EventsStreaming.slidingByType(t(s, dir, "events")),
      """WITH e AS (
        |  SELECT event_type, value, epoch_us(ts) us FROM events),
        |w AS (
        |  SELECT event_type, value,
        |         (us // 1800000000 - sh) * 1800000000 AS w_start_us
        |  FROM e CROSS JOIN (SELECT unnest(range(0, 2)) sh) shifts
        |  WHERE us - (us // 1800000000 - sh) * 1800000000 < 3600000000)
        |SELECT strftime(make_timestamp(w_start_us), '%Y-%m-%d %H:%M:%S') AS win_start,
        |       event_type, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM w GROUP BY 1, 2""".stripMargin),
    QueryDef("q54_stream_join", family, (s, dir) =>
      EventsStreaming.viewClickJoinStreaming(s, dir),
      // The engine side is a STREAM-STREAM watermarked join; a drained
      // bounded fixture must produce exactly the batch join's rows.
      """SELECT v.event_id AS view_id, c.event_id AS click_id, v.user_id,
        |       CAST(epoch_us(c.ts) - epoch_us(v.ts) AS BIGINT) AS delay_us
        |FROM events v JOIN events c
        |  ON v.user_id = c.user_id
        | AND v.event_type = 'view' AND c.event_type = 'click'
        | AND epoch_us(c.ts) >= epoch_us(v.ts)
        | AND epoch_us(c.ts) < epoch_us(v.ts) + 1800000000""".stripMargin),
    // stream-static enrichment (stateless), the CSV source-matrix
    // round trip, mixing, and chunking
    QueryDef("q74_stream_enrich", family, (s, dir) =>
      EventsStreaming.enrichEventsStreaming(s, dir),
      """SELECT e.event_id, e.user_id % 50 AS bucket,
        |       CAST(COALESCE(d.n_orders, 0) AS BIGINT) AS n_orders
        |FROM events e LEFT JOIN (
        |  SELECT o_custkey % 50 AS bucket, CAST(count(*) AS BIGINT) n_orders
        |  FROM orders GROUP BY 1) d ON d.bucket = e.user_id % 50""".stripMargin),
    // ordered funnel progression (chained min-timestamp rewrite)
    QueryDef("q92_funnel", family, (s, dir) =>
      EventsStreaming.funnelStages(t(s, dir, "events")),
      // funnel re-derived with the same chained min-ts CTEs; µs space
      // on both engines (unix_micros / epoch_us)
      """WITH s1 AS (
        |  SELECT user_id, min(epoch_us(ts)) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(epoch_us(e.ts)) AS t
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t
        |  GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, min(epoch_us(e.ts)) AS t
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t
        |  GROUP BY 1)
        |SELECT CAST(1 AS INT) AS stage, 'view' AS step, count(*) AS users FROM s1
        |UNION ALL
        |SELECT CAST(2 AS INT), 'click', count(*) FROM s2
        |UNION ALL
        |SELECT CAST(3 AS INT), 'purchase', count(*) FROM s3""".stripMargin),
    // cohort retention: distinct users active N weeks after first seen
    QueryDef("q93_retention", family, (s, dir) =>
      EventsStreaming.weeklyRetention(t(s, dir, "events")),
      // integer µs week bucketing on both engines — exact parity
      """WITH firsts AS (
        |  SELECT user_id, min(epoch_us(ts)) AS first_us
        |  FROM events GROUP BY 1),
        |offs AS (
        |  SELECT DISTINCT e.user_id,
        |         (epoch_us(e.ts) - f.first_us) // 604800000000 AS week_off
        |  FROM events e JOIN firsts f ON e.user_id = f.user_id)
        |SELECT week_off, count(*) AS users FROM offs GROUP BY 1""".stripMargin),
    // behavioral path mining: top time-ordered event-type trigrams
    QueryDef("q95_event_paths", family, (s, dir) =>
      EventsStreaming.topEventPaths(t(s, dir, "events")),
      // independent relational re-derivation: row_number windows +
      // offset self-joins instead of the array pipeline
      """WITH ordered AS (
        |  SELECT user_id, event_type,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events),
        |tri AS (
        |  SELECT a.event_type || '>' || b.event_type || '>' || c.event_type AS path
        |  FROM ordered a
        |  JOIN ordered b ON a.user_id = b.user_id AND b.rn = a.rn + 1
        |  JOIN ordered c ON a.user_id = c.user_id AND c.rn = a.rn + 2)
        |SELECT path, count(*) AS cnt FROM tri GROUP BY 1
        |ORDER BY cnt DESC, path ASC LIMIT 10""".stripMargin),
    // the funnel as a stateful stream, held to batch q92's oracle
    QueryDef("q99_funnel_stream", family, (s, dir) =>
      EventsStreaming.funnelStagesStreaming(s, dir,
        queryName = "graft_q99_funnel"),
      // the STREAMING funnel answers to the BATCH oracle — identical
      // chained-min semantics re-derived relationally (q92's SQL)
      """WITH s1 AS (
        |  SELECT user_id, min(epoch_us(ts)) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(epoch_us(e.ts)) AS t
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t
        |  GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, min(epoch_us(e.ts)) AS t
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t
        |  GROUP BY 1)
        |SELECT CAST(1 AS INT) AS stage, 'view' AS step, count(*) AS users FROM s1
        |UNION ALL
        |SELECT CAST(2 AS INT), 'click', count(*) FROM s2
        |UNION ALL
        |SELECT CAST(3 AS INT), 'purchase', count(*) FROM s3""".stripMargin),
    // STREAMING CDC apply: the change feed materialized latest-wins,
    // held to the batch MERGE oracle (q88's SQL verbatim)
    QueryDef("q103_cdc_stream", family, (s, dir) =>
      EventsStreaming.cdcApplyStreaming(s, dir,
        queryName = "graft_q103_cdc"),
      // the streaming CDC materialization answers to the BATCH merge
      // oracle — q88's latest-wins SQL verbatim
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
    // the q126 audit run ON ARRIVAL: streaming conditional counters,
    // final emission held to the batch SQL over the same rows
    QueryDef("q127_audit_stream", family, (s, dir) =>
      EventsStreaming.constraintAuditStreaming(s, dir,
        queryName = "graft_q127_audit"),
      // the streaming audit's final emission vs the plain batch SQL
      // over the same event rows — the q99/q103 parity contract
      """SELECT 'event_type_domain' AS check_name,
        |       CAST(count(*) AS BIGINT) AS n_checked,
        |       CAST(sum(CASE WHEN event_type NOT IN ('view', 'click', 'purchase')
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
        |FROM events
        |UNION ALL
        |SELECT 'value_nonneg', CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |FROM events
        |UNION ALL
        |SELECT 'user_id_notnull', CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |FROM events""".stripMargin),
    // the stateful-streaming sessionizer held to the BATCH oracle:
    // session_id re-derived by start order, cents scaled back — the
    // engine must produce the identical session set q32 does
    QueryDef("q58_sessionize_stream", family, (s, dir) =>
      EventsStreaming.sessionizeStreaming(s, dir, queryName = "graft_q58_sessions")
        .select(col("user_id"),
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy("user_id").orderBy(col("session_start_us").asc))
            .cast("int").as("session_id"),
          date_format(expr("timestamp_micros(session_start_us)"),
            "yyyy-MM-dd HH:mm:ss").as("session_start"),
          col("n_events"),
          (col("sum_value_cents").cast("double") / 100.0).as("sum_value")),
      // the STREAMING sessionizer must reproduce the batch sessions
      // exactly — same oracle as q32
      sessionizeSql),
  )
}
