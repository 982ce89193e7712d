package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Event-time windowed aggregation over the `events` table — batch and
  * Structured Streaming forms (SURVEY §2.2 Q10/Q25).
  *
  * The reference has no stream processing (its "Streaming Mode" is
  * Hadoop Streaming pipes, reference: MapReduceWSI.java:99-100); this
  * is a north-star extension. The streaming form is the same logical
  * plan under `readStream` with a watermark — Spark's incrementalizer
  * keeps per-window partial state, so at scale state size is bounded by
  * (watermark horizon × groups), not input size.
  */
object EventsStreaming {

  // Every events source below goes through graft.io.Tables.eventsStream
  // — the ONE loader that knows the fixture's physical ts encoding and
  // normalizes it to a session-zone TIMESTAMP (Tables.normalizeEventTs).
  // No operator here may assume the on-disk representation.

  /** Shared aggregation: 1-hour tumbling windows per event_type.
    * Works on batch and streaming inputs alike (one logical plan).
    */
  def windowAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(
        date_format(col("win.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Q10: batch event-time tumbling window. */
  def hourlyByType(events: DataFrame): DataFrame = windowAgg(events)

  /** Q36: sliding windows — 1-hour windows advancing every 30 minutes;
    * each event contributes to exactly 2 windows (Spark's `window`
    * with a slide expands rows, then the usual partial agg applies).
    */
  def slidingByType(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(
        date_format(col("win.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Q32: sessionization, batch form — classic gaps-and-islands with
    * window functions: a session breaks after 30 minutes of
    * inactivity. One shuffle on user_id; exact integer microsecond
    * arithmetic so the oracle replays it bit-for-bit.
    */
  def sessionize(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("us", expr("unix_micros(ts)"))
      .withColumn("prev_us", lag("us", 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull || col("us") - col("prev_us") > sessionGapUs, 1).otherwise(0))
      .withColumn("session_id", sum("new_sess").over(run).cast("int"))
      .groupBy("user_id", "session_id")
      .agg(
        date_format(min("ts"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
  }

  /** The inactivity gap that closes a session: 30 minutes. */
  private val sessionGapUs = 30 * 60L * 1000000L

  /** One closed session (stateful-streaming output shape). */
  final case class Session(user_id: Long, session_start_us: Long,
                           session_end_us: Long, n_events: Long, sum_value_cents: Long)
  /** Per-key state: the one still-open session (fixed size). */
  final case class OpenSession(startUs: Long, lastUs: Long,
                               n: Long, cents: Long)

  /** Q32 streaming form: custom per-key state via
    * flatMapGroupsWithState — the engine's arbitrary-stateful-operator
    * surface. Sessions close after 30 minutes of event-time silence;
    * the still-open session is flushed at end-of-input (a production
    * continuous stream would instead use GroupStateTimeout.EventTimeTimeout
    * and keep it in state). State per key is one fixed-size OpenSession
    * — bounded regardless of input size.
    */
  def sessionizeStreaming(spark: SparkSession, dir: String,
                          queryName: String = "graft_stream_sessions"): DataFrame = {
    // stateful shuffle sized for key cardinality (see
    // viewClickJoinStreaming); isolated session, shared context
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    import ss.implicits._
    val gapUs = sessionGapUs
    // this bounded-fixture form flushes ALL state at end of each
    // micro-batch, which is only correct when the whole fixture lands
    // in ONE batch — oneBatch forces that (the file source otherwise
    // caps a batch at 1000 files); a multi-batch form would keep the
    // open session in state under GroupStateTimeout.EventTimeTimeout
    val src = graft.io.Tables.eventsStream(ss, dir, oneBatch = true)
      .selectExpr("user_id", "unix_micros(ts) as us",
        "cast(cast(value as decimal(18,2)) * 100 as bigint) as cents")
      .as[(Long, Long, Long)]

    def flush(userId: Long, events: Iterator[(Long, Long, Long)],
              state: GroupState[OpenSession]): Iterator[Session] = {
      // AvailableNow over a bounded fixture: each key's events arrive
      // in one batch; sort by event time and emit every session.
      val sorted = events.toSeq.sortBy(_._2)
      val sessions = Seq.newBuilder[Session]
      var open: Option[OpenSession] = state.getOption
      sorted.foreach { case (_, us, c) =>
        open match {
          case Some(s) if us - s.lastUs <= gapUs =>
            open = Some(OpenSession(s.startUs, us, s.n + 1, s.cents + c))
          case Some(s) =>
            sessions += Session(userId, s.startUs, s.lastUs, s.n, s.cents)
            open = Some(OpenSession(us, us, 1, c))
          case None =>
            open = Some(OpenSession(us, us, 1, c))
        }
      }
      open.foreach(s => sessions += Session(userId, s.startUs, s.lastUs, s.n, s.cents))
      state.remove()
      sessions.result().iterator
    }

    val out = src.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(flush)
    val q = out.writeStream.format("memory").queryName(queryName)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val res = ss.table(queryName)
    res.cache(); res.count()
    res
  }

  /** Q92: ordered funnel progression — how many users reach each
    * stage of view → click → purchase IN ORDER: a user advances to
    * stage i+1 only with a stage-i+1 event STRICTLY AFTER their
    * stage-i entry time (the first qualifying event, so later stages
    * measure against the earliest possible entry). The classic
    * chained min-timestamp rewrite: per-stage groupBy-min plus an
    * equi-join on user — no window over the whole event stream, no
    * per-user event-array materialization; each stage's working set
    * is ONE timestamp per surviving user, shrinking monotonically.
    * All stage counts emit from one plan (a 3-row union of
    * aggregates), and comparisons run in microsecond space on both
    * engines (unix_micros / epoch_us) so ns-vs-µs precision can't
    * diverge.
    */
  def funnelStages(events: DataFrame): DataFrame = {
    val stages = funnelSteps.scanLeft(Option.empty[DataFrame]) { (prevOpt, step) =>
      val hits = events.filter(col("event_type") === step)
        .select(col("user_id"), expr("unix_micros(ts)").as("us"))
      val qualified = prevOpt match {
        case None => hits
        case Some(prev) =>
          hits.join(prev.select(col("user_id"), col("t").as("prev_t")), "user_id")
            .filter(col("us") > col("prev_t"))
      }
      Some(qualified.groupBy("user_id").agg(min(col("us")).as("t")))
    }.flatten
    stages.zip(funnelSteps).zipWithIndex.map { case ((df, step), i) =>
      df.agg(count(lit(1)).as("users"))
        .select(lit(i + 1).as("stage"), lit(step).as("step"), col("users"))
    }.reduce(_ unionByName _)
  }

  /** The funnel's ordered stages. */
  private val funnelSteps = Seq("view", "click", "purchase")

  /** Q93: cohort retention — distinct users active in week N after
    * their own first event. Two aggregates and one join: per-user
    * first-event time, then distinct (user, week-offset) pairs
    * counted per offset. Week offsets are computed with INTEGER
    * microsecond arithmetic ((us - first_us) div week_us) so both
    * engines bucket identically — no calendar/timezone functions in
    * the hot path, and exact cross-engine parity by construction.
    */
  def weeklyRetention(events: DataFrame): DataFrame = {
    val weekUs = 7L * 86400L * 1000000L
    val firsts = events
      .groupBy("user_id")
      .agg(min(expr("unix_micros(ts)")).as("first_us"))
    events.select(col("user_id"), expr("unix_micros(ts)").as("us"))
      .join(firsts, "user_id")
      .select(col("user_id"),
        expr(s"(us - first_us) div ${weekUs}L").as("week_off"))
      .distinct()
      .groupBy("week_off")
      .agg(count(lit(1)).as("users"))
  }

  /** Q95: behavioral path mining — the most common 3-step event-type
    * sequences across users' time-ordered streams. Per user the
    * event list is collected ONCE (bounded by per-user activity, the
    * same state bound as q32's sessionizer), sorted by (time,
    * event_id) so ties are deterministic, and the sliding 3-gram
    * expansion is a pure array expression; global counting is then an
    * ordinary partial-aggregated groupBy, and top-k plans as
    * TakeOrderedAndProject. One shuffle on user_id, one on path.
    */
  def topEventPaths(events: DataFrame): DataFrame = {
    val perUser = events
      .select(col("user_id"),
        struct(expr("unix_micros(ts)").as("us"),
          col("event_id"), col("event_type")).as("e"))
      .groupBy("user_id")
      .agg(expr("transform(array_sort(collect_list(e)), x -> x.event_type)")
        .as("types"))
    val paths = perUser
      .filter(size(col("types")) >= 3)
      .select(explode(expr(
        "transform(sequence(0, size(types) - 3), i -> concat_ws('>', slice(types, i + 1, 3)))"))
        .as("path"))
    paths.groupBy("path").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("path").asc)
      .limit(10)
  }

  /** Per-user funnel progress: the stage reached so far and the entry
    * time of that stage — one fixed-size record per user, the funnel's
    * entire streaming state.
    */
  final case class FunnelProgress(stage: Int, entryUs: Long)

  /** Q99: the funnel (q92) as a STATEFUL STREAM — per-user progress
    * tracked in one [[FunnelProgress]] record via
    * flatMapGroupsWithState, the same bounded-fixture flush shape as
    * [[sessionizeStreaming]] (whole fixture in one batch, events
    * sorted by event time inside the group; the production multi-batch
    * form would carry the state forward with an event-time timeout).
    * A greedy scan in time order advances a user to stage i+1 on the
    * FIRST stage-i+1 event strictly after their stage-i entry — which
    * is precisely the chained-min semantics of the batch q92, so the
    * emitted per-user final stages aggregate to the identical stage
    * counts and the query is held to batch q92's oracle.
    */
  def funnelStagesStreaming(spark: SparkSession, dir: String,
                            queryName: String = "graft_stream_funnel"): DataFrame = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    import ss.implicits._
    val stepsLoc = funnelSteps
    val src = graft.io.Tables.eventsStream(ss, dir, oneBatch = true)
      .selectExpr("user_id", "unix_micros(ts) as us", "event_id", "event_type")
      .as[(Long, Long, Long, String)]

    def advance(userId: Long, events: Iterator[(Long, Long, Long, String)],
                state: GroupState[FunnelProgress]): Iterator[(Long, Int)] = {
      val sorted = events.toSeq.sortBy(e => (e._2, e._3))
      var p = state.getOption.getOrElse(FunnelProgress(0, Long.MinValue))
      sorted.foreach { case (_, us, _, tpe) =>
        if (p.stage < stepsLoc.length && tpe == stepsLoc(p.stage) &&
            (p.stage == 0 || us > p.entryUs))
          p = FunnelProgress(p.stage + 1, us)
      }
      state.remove()
      if (p.stage > 0) Iterator((userId, p.stage)) else Iterator.empty
    }

    val out = src.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(advance)
      .toDF("user_id", "stage")
    val q = out.writeStream.format("memory").queryName(queryName)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val perUser = ss.table(queryName)
    perUser.cache(); perUser.count()
    funnelSteps.zipWithIndex.map { case (step, i) =>
      perUser.filter(col("stage") >= i + 1)
        .agg(count(lit(1)).as("users"))
        .select(lit(i + 1).as("stage"), lit(step).as("step"), col("users"))
    }.reduce(_ unionByName _)
  }

  /** Q103: STREAMING CDC APPLY — a change feed (inserts, updates,
    * rekeyed rows) materialized into the latest-wins table snapshot as
    * it streams in, the streaming form of the batch MERGE (q88, whose
    * oracle this query answers to). Each arriving row carries a
    * version priority (base rows 0, change rows 1); per-key state
    * keeps only the highest-priority version seen, so state is one
    * row per key — the compaction shape of a CDC sink — and the
    * drained output is exactly `MergeOps.upsert`.
    *
    * Fixture caveat, same as [[funnelStagesStreaming]]: the whole
    * fixture arrives in one AvailableNow batch, so the winner is
    * resolved inside the group and state is dropped on emit. A
    * multi-batch form would keep the highest-sequence version per key
    * in checkpoint-durable state across batches.
    */
  def cdcApplyStreaming(spark: SparkSession, dir: String,
                        queryName: String = "graft_stream_cdc"): DataFrame = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    import ss.implicits._
    // o_orderdate deliberately absent: the parquet scan prunes to the
    // narrow merge columns, streaming like batch.
    val ordersSchema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderpriority", StringType)))
    val src = ss.readStream.schema(ordersSchema)
      .option("pathGlobFilter", "orders.parquet")
      .option("maxFilesPerTrigger", Int.MaxValue.toString)
      .parquet(dir)
    // the q88 fixture, derived on the stream: base rows where key%3!=0,
    // price-bump updates on key%5==0, rekeyed inserts on key%11==0
    val base = src.filter(col("o_orderkey") % 3 =!= 0)
      .withColumn("prio", lit(0))
    val changes = src.filter(col("o_orderkey") % 5 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000)
      .withColumn("o_orderpriority", lit("UPDATED"))
      .unionByName(src.filter(col("o_orderkey") % 11 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
      .withColumn("prio", lit(1))
    val feed = base.unionByName(changes)
      .as[(Long, Long, Double, String, Int)]

    def latest(key: Long, rows: Iterator[(Long, Long, Double, String, Int)],
               state: GroupState[(Long, Long, Double, String, Int)])
        : Iterator[(Long, Long, Double, String)] = {
      val winner = (state.getOption.iterator ++ rows).maxBy(_._5)
      state.remove()
      Iterator((winner._1, winner._2, winner._3, winner._4))
    }

    val out = feed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(latest)
      .toDF("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    val q = out.writeStream.format("memory").queryName(queryName)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    ss.table(queryName)
  }

  /** Q54: STREAM-STREAM inner join — the two-live-streams shape
    * (impressions joining clicks as both arrive). Both sides carry a
    * watermark and the join predicate bounds event-time distance, so
    * Spark buffers each side only within the watermark horizon: state
    * is bounded by (horizon × arrival rate), not stream length —
    * without the time constraint a stream-stream join must hold BOTH
    * streams forever. Inner matches emit as soon as both rows exist;
    * the oracle (the equivalent batch join, which DuckDB replays) gets
    * the identical row set on a drained fixture.
    */
  def viewClickJoinStreaming(spark: SparkSession, dir: String): DataFrame = {
    val queryName = "graft_stream_join"
    // a stream-stream join maintains FOUR state stores per shuffle
    // partition and commits each of them every micro-batch — that
    // fixed cost, not the data, dominates at moderate rates. Size the
    // stateful shuffle for the stream's key cardinality instead of the
    // batch session's default; newSession() scopes the setting to this
    // query (shared SparkContext, isolated SQL conf)
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    val src = graft.io.Tables.eventsStream(ss, dir)
    val views = src.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", "1 hour")
    val clicks = src.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val joined = views.join(clicks,
      expr("""v_user = c_user AND c_ts >= v_ts AND
               c_ts < v_ts + interval 30 minutes"""))
      .select(col("view_id"), col("click_id"), col("v_user").as("user_id"),
        (expr("unix_micros(c_ts)") - expr("unix_micros(v_ts)")).as("delay_us"))
    val q = joined.writeStream.format("memory").queryName(queryName)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    // the memory sink registers in the isolated session's catalog
    val out = ss.table(queryName)
    out.cache(); out.count()
    out
  }

  /** Q74: STREAM-STATIC enrichment join — the most common streaming
    * shape in practice: live events decorated with a precomputed
    * dimension (here per-customer-bucket order counts). Unlike the
    * stream-stream q54 this is STATELESS — no watermark, no state
    * store, nothing buffered across micro-batches: the static side is
    * broadcast into each micro-batch and rows flow straight through.
    * At 100 TB/day of events the cost profile is exactly the batch
    * broadcast join's, paid per micro-batch; a LARGE dimension would
    * instead be a shuffled join per micro-batch (still stateless).
    * The oracle is the equivalent batch left join, which must produce
    * the identical row set on the drained fixture.
    */
  def enrichEventsStreaming(spark: SparkSession, dir: String): DataFrame = {
    val (queryName, buckets) = ("graft_q74_enrich", 50)
    val ss = spark.newSession()
    val dim = graft.io.Tables.parquet(ss, dir, "orders")
      .groupBy((col("o_custkey") % buckets).as("bucket"))
      .agg(count(lit(1)).as("n_orders"))
    val src = graft.io.Tables.eventsStream(ss, dir)
    val enriched = src
      .select(col("event_id"), (col("user_id") % buckets).as("bucket"))
      .join(broadcast(dim), Seq("bucket"), "left")
      .select(col("event_id"), col("bucket"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"))
    val q = enriched.writeStream.format("memory").queryName(queryName)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val out = ss.table(queryName)
    out.cache(); out.count()
    out
  }

  /** Streaming NEAR-DUP candidates — the q60 incremental shape made a
    * STREAM: documents arriving on the stream (the odd-doc_id half of
    * the fixture) are banded PER ROW with
    * [[graft.ops.DedupOps.minhashBandsRowwise]] (a stateless
    * projection — no aggregation upstream of the join) and equi-joined
    * against the existing corpus's band table, which in production is
    * a maintained build artifact (here derived from the even half).
    * The join is STREAM-STATIC inner on (b, bh) — stateless, the
    * static side broadcast-or-shuffled once per micro-batch — and the
    * emitted (new, existing) pairs are deduplicated with streaming
    * state, so a pair colliding in several bands (or across batches)
    * emits once. State is one row per EMITTED pair — the operator's
    * output, not its input (this oracle-parity form keeps unbounded
    * dropDuplicates because the oracle compare needs every pair
    * regardless of horizon).
    * Held to batch q60's oracle (same band geometry, same pair set).
    */
  def streamingNearDupCandidates(spark: SparkSession, dir: String,
                                 queryName: String = "graft_stream_neardup"): DataFrame = {
    // isolated session: size the stateful shuffle for the pair-dedup
    // state stores (like q54), without touching the caller's conf
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    // CACHE the static side: a stream-static join re-evaluates the
    // static plan every micro-batch, and the band table is the
    // expensive half (minhash over the corpus). In production it is a
    // maintained build artifact read from storage; caching here is
    // that artifact's in-memory analogue, paid once not per batch.
    val corpusBands = graft.ops.DedupOps.minhashBands(
        graft.io.Tables.parquet(ss, dir, "documents")
          .filter(col("doc_id") % 2 === 0))
      .select(col("doc_id").as("doc_existing"), col("b"), col("bh"))
      .cache()
    try {
      corpusBands.count()
      // a single-file source arrives as ONE partition per micro-batch;
      // spread the rows before the md5-dense banding projection or the
      // whole batch runs in one task (the streaming analogue of
      // OpsUtil.par, paid as a cheap pre-shuffle of raw doc rows)
      val src = graft.io.Tables.documentsStream(ss, dir)
        .filter(col("doc_id") % 2 === 1)
        .repartition(ss.sparkContext.defaultParallelism)
      val streamBands = graft.ops.DedupOps.minhashBandsRowwise(src)
        .select(col("doc_id").as("doc_new"), col("b"), col("bh"))
      val q = streamBands.join(corpusBands, Seq("b", "bh"))
        .select("doc_new", "doc_existing")
        .dropDuplicates("doc_new", "doc_existing")
        .writeStream.format("memory").queryName(queryName)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
      val out = ss.table(queryName)
      out.cache(); out.count()
      out
    } finally corpusBands.unpersist()
  }

  /** Q138: STREAMING cluster-label maintenance — the q135 merge driven
    * per micro-batch, with the q137 band artifact as the GROWING
    * candidate side. Each arriving document batch: (1) bands under the
    * artifact's own recorded geometry; (2) candidate edges = within-
    * batch pairs ∪ cross pairs against the STORED bands (so a batch
    * pairs with history AND with every earlier batch); (3)
    * [[graft.ops.ClusterOps.mergeClusterEdges]] folds the edges into
    * the persisted labels in O(batch + touched components); (4) the
    * same band rows append to the band artifact for later batches.
    * Labels from minhash-LSH edges; compose further generators by
    * calling mergeClusterEdges with their batch edges.
    *
    * Restart safety: the checkpoint replays an uncommitted micro-batch
    * after a crash; the merge is IDEMPOTENT (IncrementalClusterSpec)
    * and duplicate band rows cannot change the candidate-pair SET
    * (the pair join is distinct), so the label result is exactly-once
    * even though the band storage is at-least-once. This is the
    * daily-ingest dedup loop as one continuously-running query.
    */
  def streamingClusterMaintenance(spark: SparkSession, srcDir: String,
                                  scope: graft.core.Scope,
                                  bandsName: String, labelsName: String,
                                  checkpointDir: String): Unit = {
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // one file = one micro-batch: each ingest wave merges (and appends
    // its bands) before the next joins against them — the multi-batch
    // shape the maintenance loop exists for, even under AvailableNow
    val src = spark.readStream.schema(docSchema)
      .option("pathGlobFilter", "*.parquet")
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = src.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = batch.persist()
        try {
          val g = graft.io.Artifact.read(spark, scope, bandsName)
          val bb = graft.ops.DedupOps.minhashBands(b, g.int("num_hashes"),
            g.int("band_size"), g.int("shingle_size")).persist()
          try {
            val stored = graft.ops.DedupOps.loadBands(spark, scope, bandsName)
            val cross = bb
              .select(col("doc_id").as("doc_a"), col("b"), col("bh"))
              .join(stored.select(col("doc_id").as("doc_b"), col("b"), col("bh")),
                Seq("b", "bh"))
              .filter(col("doc_a") =!= col("doc_b"))
              .select("doc_a", "doc_b").distinct()
            val within = graft.ops.DedupOps.lshPairsFromBands(bb)
            graft.ops.ClusterOps.mergeClusterEdges(spark, scope, labelsName,
              within.unionByName(cross))
            graft.ops.DedupOps.appendBandRows(bb, scope, bandsName)
          } finally bb.unpersist()
        } finally b.unpersist()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  /** Q179: STREAMING canonical-URL key maintenance — the q178 ingest
    * driven per micro-batch (the q138 maintenance pattern): each
    * arriving fetch wave anti-joins the stored key set (bucket-pruned)
    * and appends only its fresh keys, so the artifact grows O(batch)
    * per wave and a later wave's duplicates of an earlier wave's
    * pages are rejected by the keys that wave appended. Restart
    * safety: the checkpoint replays an uncommitted micro-batch, and
    * [[graft.ops.HtmlOps.appendUrlKeys]]'s anti-join makes the replay
    * a no-op on the key set — exactly-once semantics over
    * at-least-once storage, the q138 contract. Under fetch-ordered
    * waves the final artifact equals the batch q174 recompute
    * (keep-first == keep-lowest), which is the oracle q179 is held to.
    */
  def streamingUrlKeyMaintenance(spark: SparkSession, srcDir: String,
                                 scope: graft.core.Scope, name: String,
                                 checkpointDir: String): Unit = {
    val urlSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("url", StringType)))
    // one file = one micro-batch (the q138 convention): each wave
    // must land its keys before the next wave anti-joins them
    val src = spark.readStream.schema(urlSchema)
      .option("pathGlobFilter", "*.parquet")
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = src.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = batch.persist()
        try { graft.ops.HtmlOps.appendUrlKeys(b, scope, name); () }
        finally b.unpersist()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  /** Writes one stream-wave fixture file and PINS its modification
    * time to a fixed base + wave offset: `FileStreamSource` orders
    * files by modTime, and on a coarse-mtime filesystem (1 s on some
    * mounts) two back-to-back writes could tie and flip the wave
    * order that the order-sensitive oracles (q179's kept-first keys,
    * q192's per-wave page/key split) replay. Freshly written part
    * files are recognized by their present-day mtime; pinned ones sit
    * decades earlier and are left alone.
    */
  def writeWaveFile(df: org.apache.spark.sql.DataFrame, dir: String,
                    waveIdx: Int): Unit = {
    require(waveIdx >= 0, s"waveIdx must be non-negative: $waveIdx")
    df.coalesce(1).write.mode("append").parquet(dir)
    val pin = 1000000000000L + waveIdx * 60000L // 2001 + 1 min per wave
    val files = new java.io.File(dir).listFiles()
    // fail LOUDLY on a non-local / URI-form dir rather than silently
    // skipping the pin — an unpinned wave reintroduces the exact
    // coarse-mtime ordering flake this function exists to prevent
    require(files != null,
      s"writeWaveFile needs a listable local directory, got: $dir")
    files
      .filter(f => f.getName.endsWith(".parquet") &&
        f.lastModified() > 1100000000000L)
      .foreach { f =>
        require(f.setLastModified(pin), s"could not pin mtime of $f")
      }
  }

  /** Q192: the CRAWL LOOP under Structured Streaming — each
    * micro-batch is one fetched WAVE (doc_id, url, fetch_host, html,
    * fetched_at_s: the fetch URL, the page it returned, and WHEN).
    * Per batch, in loop order: (1) the wave's canonical keys are
    * APPENDED to the maintained key set
    * ([[graft.ops.HtmlOps.appendUrlKeys]] — O(batch), idempotent
    * under replay), so a just-fetched page can never be scheduled
    * again; (2) the wave's fetch times UPSERT into the maintained
    * fetch-log artifact ([[graft.ops.HtmlOps.appendFetchLog]] —
    * O(batch), idempotent by max-merge algebra), so refetch
    * scheduling ([[graft.ops.HtmlOps.refetchWaveFromLog]]) always
    * has the latest fetch per key without re-reducing a raw log;
    * (3) the NEXT wave is computed from the batch's pages with the
    * full polite pipeline ([[graft.ops.HtmlOps.politeFrontier]]:
    * blocklist → robots → anti-join the now-updated key set → rank
    * priority → per-domain cap), SCHEDULED
    * ([[graft.ops.HtmlOps.scheduleWave]] — each slot gets its
    * Crawl-delay fetch offset, so the loop emits executable
    * schedules, not bare candidate lists), and written to
    * `outDir/wave=<batchId>` with OVERWRITE — a replayed micro-batch
    * rewrites its own wave directory instead of duplicating rows,
    * the idempotency twin of the artifact maintenance.
    *
    * The rank is the EPOCH-level artifact (q188), passed in once, and
    * the crawl delays are the robots parse (q199), also epoch-level —
    * REFRESH CADENCE, stated explicitly: production recomputes the
    * rank (a full vocabulary-sized recompute, [[graft.ops.GraphOps
    * .saveDomainRank]]'s documented policy) and re-fetches robots
    * once per crawl EPOCH — the point where the operator decides the
    * accumulated edge deltas warrant a re-prioritization — never per
    * micro-batch; within an epoch every wave reads the same artifact,
    * which is exactly why it is an artifact and not a per-batch
    * computation. State lives entirely in the key-set and fetch-log
    * artifacts; the stream itself is stateless (no watermark, no
    * state store to grow).
    */
  /** @param refetch when set — (fetchLogName required) —
    *                 `(ttlS, refetchDir)`: after the batch's fetches
    *                 upsert into the log, the loop ALSO emits the
    *                 scheduled REFETCH wave as of this batch (due =
    *                 age ≥ ttl at the batch's latest fetch time,
    *                 [[graft.ops.HtmlOps.refetchWaveFromLog]] ∘
    *                 [[graft.ops.HtmlOps.scheduleWave]]) under
    *                 `refetchDir/wave=<batchId>` — the crawl's steady
    *                 state: every wave both discovers the unseen and
    *                 re-schedules the stale, from the same artifacts.
    *                 Idempotent like the discovery wave: a replayed
    *                 batch re-upserts the same fetch times (max-merge)
    *                 and overwrites its own wave directory. Staleness
    *                 is judged by the LOG's clock alone — see the
    *                 in-loop note on waves whose internal fetch-time
    *                 spread exceeds the TTL.
    */
  def streamingCrawlLoop(spark: SparkSession, srcDir: String,
                         scope: graft.core.Scope, name: String,
                         ranks: org.apache.spark.sql.DataFrame,
                         rules: org.apache.spark.sql.DataFrame,
                         delays: org.apache.spark.sql.DataFrame,
                         outDir: String, checkpointDir: String,
                         fetchLogName: Option[String] = None,
                         refetch: Option[(Long, String)] = None): Unit = {
    require(refetch.isEmpty || fetchLogName.nonEmpty,
      "refetch emission needs the maintained fetch log (fetchLogName)")
    // validate + localize ONCE, before the stream starts: the guards
    // (and whatever plan produced the delays — a full robots parse)
    // must not re-execute per micro-batch, twice with the refetch arm
    val vDelays = graft.ops.HtmlOps.validatedDelays(delays)
    val pageSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("url", StringType),
      StructField("fetch_host", StringType), StructField("html", StringType),
      StructField("fetched_at_s", LongType)))
    val src = spark.readStream.schema(pageSchema)
      .option("pathGlobFilter", "*.parquet")
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = src.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val b = batch.persist()
        try {
          val bs = b.sparkSession
          graft.ops.HtmlOps.appendUrlKeys(
            b.select(col("doc_id"), col("url")), scope, name)
          fetchLogName.foreach { log =>
            graft.ops.HtmlOps.appendFetchLog(
              b.select(col("url"), col("fetched_at_s")), scope, log)
          }
          // CROSS-WAVE politeness (q207): this wave's offsets start
          // at the carried per-domain next_allowed_s, and discovery
          // and refetch share ONE dispatch clock within the batch —
          // wave N+1 can never schedule a domain closer to wave N's
          // tail than its parsed Crawl-delay
          val stateDir = scope.path("schedstate")
          val st0 = graft.ops.HtmlOps.loadSchedState(bs, stateDir, batchId)
          graft.ops.HtmlOps.scheduleWaveValidated(
              graft.ops.HtmlOps.politeFrontier(
                b.select(col("doc_id"), col("fetch_host"), col("html")),
                scope, name, ranks, rules),
              vDelays, startOffsets = Some(st0))
            .write.mode("overwrite").parquet(s"$outDir/wave=$batchId")
          // advance from the WRITTEN wave (tiny read-back) — deriving
          // it from the un-persisted plan would recompute the whole
          // frontier a second time
          var state = graft.ops.HtmlOps.advanceSchedState(
            bs.read.parquet(s"$outDir/wave=$batchId"), st0)
          refetch.foreach { case (ttlS, refetchDir) =>
            // "now" is the batch's own latest fetch — deterministic
            // and replay-stable. Due is PURE log-clock age (≥ TTL at
            // that now): in production a wave's wall-clock spread is
            // far below any sane TTL, so a just-fetched key is never
            // due; a synthetic log whose within-wave spread exceeds
            // the TTL CAN re-schedule its own oldest fetches — the
            // log's truth, stated rather than special-cased. An EMPTY
            // batch has no "now" and emits no refetch wave (max over
            // zero rows is null — guarded, not an NPE).
            val nowRow = b.agg(max(col("fetched_at_s"))).head()
            if (!nowRow.isNullAt(0)) {
              // read through the BATCH's (cloned) session: the upsert
              // above refreshed ITS relation cache after rewriting
              // partitions — the outer session's cache may still list
              // the replaced files. The refetch schedule continues the
              // SAME dispatch clock the discovery wave advanced.
              graft.ops.HtmlOps.scheduleWaveValidated(
                  graft.ops.HtmlOps.refetchWaveFromLog(bs,
                    scope, fetchLogName.get, nowRow.getLong(0), ttlS,
                    ranks),
                  vDelays, startOffsets = Some(state))
                .write.mode("overwrite")
                .parquet(s"$refetchDir/wave=$batchId")
              state = graft.ops.HtmlOps.advanceSchedState(
                bs.read.parquet(s"$refetchDir/wave=$batchId"), state)
            }
          }
          graft.ops.HtmlOps.saveWaveState(state, stateDir, batchId)
          ()
        } finally b.unpersist()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  /** Q203: the crawl loop fed from its TRUE FRONT DOOR under
    * Structured Streaming — each micro-batch is a wave of RAW WARC
    * chunks (doc_id, warc), exactly what an archive fetcher lands.
    * Per batch: the chunks frame ([[graft.ops.HtmlOps.warcFrame]]),
    * the HTTP message splits and gates
    * ([[graft.ops.HtmlOps.httpFrame]] — only `length_ok` AND
    * `http_ok` records become pages), and the VALID pages drive the
    * loop: their target URIs append to the key set (a failed or
    * non-HTML fetch does NOT enter — it stays eligible for
    * rediscovery, the right crawl semantics for a fetch that returned
    * nothing usable), and the polite frontier over their bodies is
    * scheduled and written per wave. Framing + gating are the same
    * zero-exchange projections as q184/q186 — the stream adds no new
    * shuffle class over q192.
    *
    * @param robots the SEED robots bytes per domain
    *                (domain, robots_txt) — the state before any wave.
    *                From wave 1 on, the gate and the scheduler read
    *                the MAINTAINED robots artifact instead
    *                ([[graft.ops.HtmlOps.robotsFetches]] /
    *                [[graft.ops.HtmlOps.advanceRobotsState]]): a
    *                `/robots.txt` fetch landing in wave N re-parses
    *                into wave N+1's rules and Crawl-delays — the
    *                loop's LAST static input closed (the policy now
    *                travels in the crawl's own traffic). Rules and
    *                delays are re-derived per wave from the
    *                vocabulary-sized state artifact — per-wave work
    *                by necessity now, since the policy can change
    *                every wave (the one-time pre-validation contract
    *                only applies to static delays).
    * @param gzip when true the source carries BINARY per-record-gzip
    *              chunks (`warc_gz`, the q206 wire format real
    *              archives land in) and each batch runs the inflate
    *              seam ahead of framing — everything downstream is
    *              byte-identical to the text-fed loop, which is
    *              exactly why q210 holds this mode to q203's oracle
    *              verbatim.
    * @param attempts when set — `(attemptsName, retryTtlS)` — the
    *              RETRY GATE (q211) runs IN the loop: each wave's
    *              frontier anti-joins the attempt log's recent
    *              entries (completed strictly before the wave's own
    *              clock — replay-safe — and younger than the TTL), and
    *              every dispatched slot is STAMPED back into the log
    *              (the q211 table verbatim: the struct-max upsert at
    *              `now + not_before_s`, the slot's dispatch instant) —
    *              so a streamed crawl stops re-dispatching fresh
    *              failures wave after wave, and an attempt that aged
    *              out competes again (q214 pins defer → age-out →
    *              re-compete across streamed waves). The wave's clock
    *              is its own latest WARC-Date — deterministic and
    *              replay-stable, like the refetch arm's log clock.
    */
  def streamingWarcCrawlLoop(spark: SparkSession, srcDir: String,
                             scope: graft.core.Scope, name: String,
                             ranks: org.apache.spark.sql.DataFrame,
                             robots: org.apache.spark.sql.DataFrame,
                             outDir: String,
                             checkpointDir: String,
                             gzip: Boolean = false,
                             attempts: Option[(String, Long)] = None): Unit = {
    val warcSchema =
      if (gzip) StructType(Seq(
        StructField("doc_id", LongType), StructField("warc_gz", BinaryType)))
      else StructType(Seq(
        StructField("doc_id", LongType), StructField("warc", StringType)))
    val src = spark.readStream.schema(warcSchema)
      .option("pathGlobFilter", "*.parquet")
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = src.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val chunks =
          if (gzip) graft.ops.HtmlOps.gunzipWarcChunks(batch.toDF())
          else batch.toDF()
        val framed = graft.ops.HtmlOps.httpFrame(
            graft.ops.HtmlOps.warcFrame(chunks, "warc"))
          .persist()
        try {
          val bs = framed.sparkSession
          val pages = framed
            .filter(col("length_ok") && col("http_ok") && col("body_ok"))
            .select(col("doc_id"),
              graft.ops.HtmlOps.hostOf(col("target_uri")).as("fetch_host"),
              col("body").as("html"), col("target_uri").as("url"))
          graft.ops.HtmlOps.appendUrlKeys(
            pages.select(col("doc_id"), col("url")), scope, name)
          // this wave's POLICY: the robots state strictly before this
          // wave (the seed before wave 0) — deterministic and
          // replay-stable; this wave's own robots fetches take effect
          // NEXT wave
          val robotsDir = scope.path("robotsstate")
          val rState = graft.ops.HtmlOps.loadRobotsState(bs, robotsDir,
            batchId, seed = robots)
          val rules = graft.ops.HtmlOps.parseRobotsRules(rState)
          val vDelays = graft.ops.HtmlOps.validatedDelays(
            graft.ops.HtmlOps.parseCrawlDelays(rState))
          // the q192 loop's carried dispatch clock (q207)
          val stateDir = scope.path("schedstate")
          val st0 = graft.ops.HtmlOps.loadSchedState(bs, stateDir, batchId)
          // the wave's CLOCK, when the retry gate is on: its own
          // latest WARC-Date in epoch seconds — deterministic and
          // replay-stable (the refetch arm's log-clock convention)
          val nowS = attempts.map { _ =>
            // try_to_timestamp: a malformed chunk's empty/garbled
            // WARC-Date is a null clock sample, never an ANSI parse
            // exception killing the stream (the verdict contract)
            val r = framed.agg(max(unix_timestamp(try_to_timestamp(
              col("warc_date"),
              lit("yyyy-MM-dd'T'HH:mm:ss'Z'"))))).head()
            if (r.isNullAt(0)) 0L else r.getLong(0)
          }
          // BOTH discovery channels per wave (q205): the valid pages'
          // outlinks AND the 3xx fetches' Location targets, from the
          // one persisted framed batch — a moved page's new address
          // enters the frontier the wave its redirect is seen. With
          // the retry gate on (q214), candidates attempted too
          // recently DEFER instead of re-dispatching.
          val frontier = attempts match {
            case Some((attName, ttlS)) =>
              graft.ops.HtmlOps.retryGatedFrontierFramed(framed,
                scope, name, attName, nowS.get, ttlS, ranks, rules)
            case None =>
              graft.ops.HtmlOps.redirectFrontierFramed(framed,
                scope, name, ranks, rules)
          }
          graft.ops.HtmlOps.scheduleWaveValidated(frontier,
              vDelays, startOffsets = Some(st0))
            .write.mode("overwrite").parquet(s"$outDir/wave=$batchId")
          // STAMP every dispatched slot into the attempt log — from
          // the WRITTEN wave (tiny read-back, the advanceSchedState
          // convention), at its dispatch instant now + offset.
          // Idempotent under replay by max-merge algebra, like the
          // fetch-log arm.
          attempts.foreach { case (attName, _) =>
            graft.ops.HtmlOps.appendFetchLog(
              bs.read.parquet(s"$outDir/wave=$batchId")
                .select(col("url"),
                  (lit(nowS.get) + col("not_before_s"))
                    .cast("long").as("fetched_at_s")),
              scope, attName)
            ()
          }
          graft.ops.HtmlOps.saveWaveState(
            graft.ops.HtmlOps.advanceSchedState(
              bs.read.parquet(s"$outDir/wave=$batchId"), st0),
            stateDir, batchId)
          // maintain the robots artifact from THIS wave's fetches
          graft.ops.HtmlOps.saveWaveState(
            graft.ops.HtmlOps.advanceRobotsState(
              graft.ops.HtmlOps.robotsFetches(framed), rState),
            robotsDir, batchId)
          ()
        } finally framed.unpersist()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  /** Q25: the same computation executed by the Structured Streaming
    * engine — file stream in, windowed state, memory sink, AvailableNow
    * trigger so a static fixture drains deterministically. Complete
    * output mode is used HERE because the bounded fixture must emit
    * every window including the last open one (oracle parity with the
    * batch plan); on a continuous production stream use APPEND mode,
    * where the watermark bounds state to (horizon × groups) and emits
    * each finalized window exactly once — WatermarkSpec drives that
    * mode end-to-end, including late-data drop.
    */
  /** Q127: the q126 CONTRACT AUDIT run ON ARRIVAL — conditional
    * violation counts as a streaming global aggregation over the
    * event stream, so a bad batch is caught while it lands, not at
    * promotion time. State is one row of counters per check
    * (constant, no watermark needed); complete mode re-emits the
    * running audit each micro-batch and the fixture's final emission
    * must equal the batch audit bit-for-bit (the q99/q103 parity
    * pattern — q127's oracle IS the batch SQL over the same rows).
    * The unpivot to (check_name, n_checked, n_violations) happens on
    * the final one-row frame, off the streaming plan.
    */
  def constraintAuditStreaming(spark: SparkSession, dir: String,
                               queryName: String = "graft_stream_audit"): DataFrame = {
    // one row of counters: one state partition
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "1")
    val src = graft.io.Tables.eventsStream(ss, dir)
    val agg = src.agg(
      count(lit(1)).as("n_checked"),
      sum((!col("event_type").isin("view", "click", "purchase"))
        .cast("long")).as("v_event_type_domain"),
      sum((col("value") < 0).cast("long")).as("v_value_nonneg"),
      sum(col("user_id").isNull.cast("long")).as("v_user_id_notnull"))
    val q = agg.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    val wide = ss.table(queryName)
    wide.cache(); wide.count()
    wide.selectExpr("n_checked",
        """stack(3,
          |  'event_type_domain', v_event_type_domain,
          |  'value_nonneg', v_value_nonneg,
          |  'user_id_notnull', v_user_id_notnull) AS (check_name, n_violations)
          |""".stripMargin)
      .select(col("check_name"), col("n_checked"),
        coalesce(col("n_violations"), lit(0L)).as("n_violations"))
  }

  def hourlyByTypeStreaming(spark: SparkSession, dir: String): DataFrame = {
    val queryName = "graft_stream_hourly"
    // stateful shuffle sized for the group cardinality (windows ×
    // types), not the batch default — per-partition state commits are
    // the fixed cost of a micro-batch (see viewClickJoinStreaming)
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    val src = graft.io.Tables.eventsStream(ss, dir)
    val agg = windowAgg(src.withWatermark("ts", "1 hour"))
    val q = agg.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    // copy out of the memory sink so the result outlives the query
    val out = ss.table(queryName)
    out.cache(); out.count()
    out
  }

  /** Q158: STREAMING subword encode against the STORED tokenizer —
    * the other half of the q153/q154 artifact contract: a tokenizer
    * fitted once serves batch jobs and streams out of the SAME id
    * space. The encode is a stateless broadcast-model projection
    * ([[graft.ops.BpeOps.encodeWithArtifact]] — select + mapPartitions
    * only), so the stream needs no watermark and no state store:
    * per-micro-batch cost is exactly the batch encode of that batch's
    * files. Held to q149's closed-form oracle (the planted corpus's
    * merges-derived and fit-dictionary alphabets provably coincide, so
    * artifact ids equal the fresh-fit ids — the q154 gate's invariant,
    * here exercised end to end through readStream).
    */
  def streamingBpeEncode(spark: SparkSession, dir: String,
                         scope: graft.core.Scope, name: String): DataFrame = {
    val queryName = "graft_stream_bpe"
    val src = graft.io.Tables.documentsStream(spark, dir)
    val enc = graft.ops.BpeOps.encodeWithArtifact(
      graft.ops.BpeOps.plantedCorpus(src), scope, name)
    val q = enc.writeStream.format("memory").queryName(queryName)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val out = spark.table(queryName)
    out.cache(); out.count()
    out
  }

  /** Q171: SCRUB-ON-INGEST — the generic PII redaction (q167, the
    * planted corpus and audit columns verbatim) running as a
    * Structured Streaming pipeline: stateless per-row projection under
    * readStream, no watermark, no state store, held to the identical
    * batch oracle — the batch/stream unification proof for the safety
    * gate, same contract shape as [[streamingBpeEncode]]. At 100 TB
    * this is the shape ingestion actually runs: documents are scrubbed
    * as they land, not in a later corpus-wide pass.
    */
  def streamingPiiScrub(spark: SparkSession, dir: String): DataFrame = {
    val queryName = "graft_stream_pii"
    val src = graft.io.Tables.documentsStream(spark, dir)
    val audit = graft.ops.PiiOps.piiRedact(
      graft.ops.PiiOps.plantedPiiCorpus(src))
    val q = audit.writeStream.format("memory").queryName(queryName)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val out = spark.table(queryName)
    out.cache(); out.count()
    out
  }

  /** Q176: EXTRACT-ON-INGEST — the crawl-ingestion flagship (q175:
    * HTML extraction + per-page blocked-outlink verdict, the planted
    * pages and the join-free literal-blocklist plan verbatim) running
    * as a Structured Streaming pipeline: stateless per-row projection
    * under readStream, no watermark, no state store, held to q175's
    * batch oracle — the q171 contract shape applied to the crawl
    * front door. At 100 TB this IS the ingest topology: pages are
    * extracted and gated as they are fetched, and only `page_ok`
    * text ever reaches the corpus-wide stages.
    */
  def streamingCrawlIngest(spark: SparkSession, dir: String): DataFrame = {
    val queryName = "graft_stream_crawl"
    val src = graft.io.Tables.documentsStream(spark, dir)
    val out0 = graft.ops.HtmlOps.crawlIngest(
      graft.ops.HtmlOps.plantedHtmlCorpus(src),
      baseHostCol = Some("fetch_host"))
    val q = out0.writeStream.format("memory").queryName(queryName)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val out = spark.table(queryName)
    out.cache(); out.count()
    out
  }
}
