package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Declared relational query surface (SURVEY §2.2 Q2-Q8).
  *
  * The reference's capability envelope is "any map/shuffle/reduce
  * program" (reference: src/de/uni_stuttgart/ipvs_as/MapReduceWSI.java:62-79
  * accepts arbitrary JARs); these are the concrete relational shapes we
  * commit to, expressed declaratively so Catalyst plans them (pushdown,
  * partial agg, broadcast joins, TakeOrderedAndProject).
  *
  * Numeric discipline: every aggregate over a DOUBLE column goes
  * through DECIMAL first (`exactSum`) — decimal addition is exact and
  * order-independent, so results are bit-identical regardless of
  * partitioning / shuffle order / AQE re-planning, at any scale, and
  * match the DuckDB oracle exactly. The final cast back to DOUBLE is a
  * single deterministic IEEE rounding.
  */
object Relational {

  /** Order-independent exact sum of a 2-decimal money/quantity column. */
  def exactSum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  /** exactSum / count — deterministic avg. */
  def exactAvg(c: Column, cnt: Column): Column =
    exactSum(c) / cnt

  /** Q2: projection + filter with parquet pushdown. Mirrors the
    * reference's pushdown-query contract incl. the parenthesized-OR
    * rule (reference: MapReduceWSI.java:114-124); here Catalyst proves
    * the predicate reaches the scan (`PushedFilters` in explain).
    */
  def filterProject(lineitem: DataFrame): DataFrame =
    lineitem
      .filter(expr("l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1997-12-31 00:00:00'") &&
              (col("l_returnflag") === "R" || col("l_linestatus") === "F"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag"), col("l_linestatus"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date"))

  /** Q3: multi-aggregate group-by (TPC-H Q1 shape). Partial+final hash
    * agg; 6 groups → trivially broadcastable result.
    */
  def groupAgg(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        exactSum(col("l_quantity")).as("sum_qty"),
        exactSum(col("l_extendedprice")).as("sum_base_price"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(18,4)"))
          .cast("double").as("sum_disc_price"),
        exactAvg(col("l_quantity"), count(lit(1))).as("avg_qty"),
        exactAvg(col("l_discount"), count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** Q4: min/max aggregate — the reference's boundary-query shape
    * (reference: MapReduceWSIImpl.java:242-258), as a plain aggregate.
    */
  def minMax(orders: DataFrame): DataFrame =
    orders.agg(min("o_orderkey").as("lo"), max("o_orderkey").as("hi"),
      count(lit(1)).as("n"))

  /** Q5: star join rolled up to region. Dimension tables are broadcast
    * (nation/region are bounded-size; customer is small relative to
    * facts — at 100 TB the orders⋈customer side becomes a shuffle
    * hash join on the key, which AQE picks automatically).
    */
  def starJoin(orders: DataFrame, customer: DataFrame, nation: DataFrame,
               region: DataFrame): DataFrame =
    orders
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(exactSum(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders"))

  /** Q6: exact distinct count per group (expands to two-phase agg). */
  def distinctCount(orders: DataFrame): DataFrame =
    orders.groupBy("o_orderpriority")
      .agg(countDistinct(col("o_custkey")).as("n_cust"),
        count(lit(1)).as("n_orders"))

  /** Approximate distinct (HyperLogLog++) — the 100 TB-scale variant of
    * Q6: single pass, fixed-size sketch, no exact-distinct expansion.
    * Correctness signal comes from [[approxDistinctGate]] (q26), which
    * bounds the estimate against the exact count in the same job.
    */
  def approxDistinct(orders: DataFrame): DataFrame =
    orders.groupBy("o_orderpriority")
      .agg(approx_count_distinct(col("o_custkey"), hllRsd).as("approx_cust"))

  /** The HLL++ relative standard deviation [[approxDistinct]] asks for. */
  private val hllRsd = 0.01

  /** Q26 gate: the HLL++ estimate checked against the exact distinct
    * count computed in the same job — emits only groups whose relative
    * error exceeds 5 standard deviations of the sketch
    * (rsd = 0.01). Expected output: EMPTY — which the DuckDB oracle can
    * verify, giving the approximate operator a real correctness signal.
    */
  def approxDistinctGate(orders: DataFrame): DataFrame = {
    // two independent scans + a join on the tiny group set: combining
    // countDistinct with the HLL in ONE agg makes the distinct-rewrite
    // Expand drag the HLL buffers through a doubled row stream
    val approx = approxDistinct(orders)
      .withColumnRenamed("approx_cust", "n_approx")
    val exact = orders.groupBy("o_orderpriority")
      .agg(countDistinct(col("o_custkey")).as("n_exact"))
    exact.join(approx, "o_orderpriority")
      .withColumn("rel_err",
        abs(col("n_approx") - col("n_exact")).cast("double") / col("n_exact"))
      .filter(col("rel_err") > hllRsd * 5.0)
      .select("o_orderpriority", "n_exact", "n_approx", "rel_err")
  }

  /** Q44 gate: approx_percentile (t-digest-style sketch, single pass,
    * fixed-size state — the 100 TB path q37's exact sort-based
    * percentiles cannot take) checked in-job against the exact rank
    * window: the sketch's contract is RANK error ≤ 1/accuracy, so the
    * approximate p50 must land between the exact p45 and p55 values. Violations only; oracle expects empty.
    */
  def approxPercentileGate(lineitem: DataFrame): DataFrame =
    lineitem.groupBy("l_returnflag")
      .agg(
        expr("percentile_approx(l_quantity, 0.5)").as("p50_approx"),
        // both exact bounds from ONE percentile buffer (array form),
        // not two independent full-copy aggregates
        expr("percentile(l_quantity, array(0.45, 0.55))").as("b"))
      .select(col("l_returnflag"), col("p50_approx").cast("double").as("p50_approx"),
        expr("b[0]").as("lo"), expr("b[1]").as("hi"))
      .filter(col("p50_approx") < col("lo") || col("p50_approx") > col("hi"))

  /** Q45: AS-OF JOIN — an operator Spark lacks natively (DuckDB, kdb,
    * Flink have it). Per the extension ladder, COMPOSED from built-ins
    * because built-ins can express it exactly: tag both sides, union,
    * and take `last(right, ignoreNulls)` over a (time, side)-ordered
    * running window per key. ONE shuffle on the key, no join operator
    * at all — each left row pairs with the latest right row at or
    * before its timestamp (right sorts before left on equal times, so
    * `<=` semantics hold). This is the scale-correct shape: the
    * sort-merge an ASOF needs anyway, without a range-join explosion.
    *
    * Concrete binding: for each event, the most recent order date in
    * its key bucket (user_id/custkey mod [[asofBuckets]]).
    */
  def eventOrderAsof(events: DataFrame, orders: DataFrame): DataFrame = {
    val r = orders
      // fixture dates are TIMESTAMP_NTZ; session tz is UTC, so the
      // cast is value-preserving and unix_micros applies
      .selectExpr(s"o_custkey % $asofBuckets as key",
        "cast(o_orderdate as timestamp) as rt").distinct()
      .select(col("key"), expr("unix_micros(rt)").as("t"), lit(0).as("side"),
        lit(null).cast("bigint").as("event_id"), col("rt"))
    val l = events
      .selectExpr(s"user_id % $asofBuckets as key", "unix_micros(ts) as t", "event_id")
      .select(col("key"), col("t"), lit(1).as("side"), col("event_id"),
        lit(null).cast("timestamp").as("rt"))
    val w = Window.partitionBy("key")
      .orderBy(col("t").asc, col("side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    r.unionByName(l)
      .withColumn("asof_rt", last("rt", ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("event_id"), col("key"),
        date_format(col("asof_rt"), "yyyy-MM-dd").as("asof_date"))
  }

  /** Q64: the SAME as-of binding as [[eventOrderAsof]], through the
    * NATIVE operator instead of the composition — custom logical node,
    * planner strategy, and a partitioned-merge physical plan
    * ([[graft.plans.AsOfJoin]], extension-ladder rung (c)). Both forms
    * are held to DuckDB's native `ASOF LEFT JOIN` oracle; the native
    * one shuffles each side separately (smaller payloads, no union
    * through one sort) and merges with O(1) state per partition.
    */
  def eventOrderAsofNative(events: DataFrame, orders: DataFrame): DataFrame = {
    val (l, r) = asofSides(events, orders)
    graft.plans.AsOf.join(l, r, key = "key", time = "t",
        payload = Seq("rt" -> "asof_rt"))
      .select(col("event_id"), col("key"),
        date_format(col("asof_rt"), "yyyy-MM-dd").as("asof_date"))
  }

  /** The key-bucket count every as-of binding folds user and customer
    * keys into.
    */
  private val asofBuckets = 50

  private def asofSides(events: DataFrame, orders: DataFrame) = {
    val r = orders
      .selectExpr(s"o_custkey % $asofBuckets as key",
        "cast(o_orderdate as timestamp) as rt").distinct()
      .withColumn("t", expr("unix_micros(rt)"))
    val l = events
      .selectExpr(s"user_id % $asofBuckets as key", "unix_micros(ts) as t",
        "event_id")
    (l, r)
  }

  /** Q79: the native as-of with FORWARD direction and a tolerance
    * bound — for each event, the next order date in its key bucket,
    * nulled when it is more than 30 days ahead. DuckDB oracles the
    * direction natively (`r.t >= l.t` ASOF) and the tolerance as a
    * post-filter — equivalent because the forward pick is the
    * EARLIEST at-or-after row: if it is beyond tolerance, no
    * at-or-after row is within it.
    */
  def eventOrderAsofForwardTol(events: DataFrame, orders: DataFrame): DataFrame = {
    val (l, r) = asofSides(events, orders)
    graft.plans.AsOf.join(l, r, key = "key", time = "t",
        payload = Seq("rt" -> "asof_rt"),
        direction = "forward",
        toleranceUs = Some(30 * 86400L * 1000000L))
      .select(col("event_id"), col("key"),
        date_format(col("asof_rt"), "yyyy-MM-dd").as("asof_date"))
  }

  /** Q81: the native as-of with NEAREST direction — the time-closest
    * order date on either side, equal distances resolving to the
    * earlier row. The oracle composes DuckDB's backward and forward
    * ASOF picks and takes the smaller distance with the same
    * tie-break, which is exactly the operator's candidate structure.
    */
  def eventOrderAsofNearest(events: DataFrame, orders: DataFrame): DataFrame = {
    val (l, r) = asofSides(events, orders)
    graft.plans.AsOf.join(l, r, key = "key", time = "t",
        payload = Seq("rt" -> "asof_rt"),
        direction = "nearest")
      .select(col("event_id"), col("key"),
        date_format(col("asof_rt"), "yyyy-MM-dd").as("asof_date"))
  }

  /** Q46: RANGE JOIN — the other interval operator Spark lacks a
    * native strategy for (an inequality join condition alone plans as
    * a nested loop). Scale-safe composition: BIN both sides into
    * fixed-width time buckets, equi-join on (key, bin) with each left
    * row probing its own and the previous bin (covers every right row
    * within one window width), then post-filter the exact range. The
    * nested loop becomes a plain shuffled equi-join whose group sizes
    * are bounded by bin occupancy, not n².
    *
    * Concrete binding: for each event, how many events of the same
    * type occurred in the preceding 30 minutes (exclusive of the
    * event's own instant).
    */
  def eventRangeCount(events: DataFrame): DataFrame = {
    val wUs = 30 * 60L * 1000000L
    val e = events.select(col("event_id"), col("event_type"),
      expr("unix_micros(ts)").as("t"))
    val probes = e
      .withColumn("pb", explode(expr(s"array(t div $wUs, t div $wUs - 1)")))
    val r = e.select(col("event_type"), col("t").as("rt"),
      expr(s"t div $wUs").as("pb"))
    probes.join(r, Seq("event_type", "pb"), "left")
      .withColumn("hit",
        when(col("rt") >= col("t") - wUs && col("rt") < col("t"), col("rt")))
      .groupBy("event_id", "event_type")
      .agg(count(col("hit")).as("n_prev"))
  }

  /** Q7: top-k by aggregate. orderBy+limit plans as
    * TakeOrderedAndProject — per-partition heaps, only k rows to the
    * driver; no global sort at any scale. Ties broken by key for
    * determinism.
    */
  def topKCustomers(orders: DataFrame, customer: DataFrame): DataFrame =
    orders
      .join(customer, col("o_custkey") === col("c_custkey"))
      .groupBy("c_custkey", "c_name")
      .agg(exactSum(col("o_totalprice")).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(10)

  /** Q29: rollup — subtotals along the (returnflag, linestatus)
    * hierarchy in one pass (Expand + single hash agg).
    */
  def rollupAgg(lineitem: DataFrame): DataFrame =
    lineitem.rollup("l_returnflag", "l_linestatus")
      .agg(exactSum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n"))

  /** Q30: set operations — distinct 1995 vs 1996 customer key sets,
    * tagged. intersect/except plan as hash semi/anti joins.
    */
  def customerSetOps(orders: DataFrame): DataFrame = {
    def keys(y: Int) = orders.filter(year(col("o_orderdate")) === y)
      .select("o_custkey").distinct()
    val a = keys(1995)
    val b = keys(1996)
    a.intersect(b).withColumn("op", lit("both"))
      .unionByName(a.except(b).withColumn("op", lit("only_1995")))
      .unionByName(b.except(a).withColumn("op", lit("only_1996")))
  }

  /** Q31: the SQL surface — temp-view catalog + Catalyst-parsed ANSI
    * SQL with a correlated scalar subquery (decorrelated by the
    * optimizer into an aggregate + join; `explain` shows no per-row
    * subplan execution).
    */
  /** The q31 SQL as a TEMPLATE over the table name: the engine binds a
    * scoped temp view, the DuckDB oracle binds the real `orders` table
    * — one shared text, no post-hoc regex rewriting that could corrupt
    * a literal/alias/comment if the query ever grows one.
    */
  def maxOrderSqlFor(table: String): String =
    s"""SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
       |FROM $table o
       |WHERE o.o_totalprice = (SELECT max(o2.o_totalprice)
       |                        FROM $table o2
       |                        WHERE o2.o_custkey = o.o_custkey)""".stripMargin

  val maxOrderSql: String = maxOrderSqlFor("orders")

  def sqlMaxOrderPerCustomer(orders: DataFrame): DataFrame = {
    // a library API must not squat on catalog names the caller may be
    // using: register under a unique scoped view name, resolve the
    // plan (spark.sql analyzes eagerly), then drop the view
    val spark = orders.sparkSession
    val view = s"graft_orders_${java.util.UUID.randomUUID().toString.takeWhile(_ != '-')}"
    orders.createOrReplaceTempView(view)
    try spark.sql(maxOrderSqlFor(view))
    finally spark.catalog.dropTempView(view)
  }

  /** Q39: cube — all grouping-set combinations in one pass. */
  def cubeAgg(lineitem: DataFrame): DataFrame =
    lineitem.cube("l_returnflag", "l_linestatus")
      .agg(exactSum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))

  /** Q40: semi/anti joins — customers with vs without orders. Plans as
    * hash semi/anti joins (broadcast when the key set is small): no
    * row multiplication, the probe side streams.
    */
  def customerOrderExistence(customer: DataFrame, orders: DataFrame): DataFrame = {
    val keys = orders.select("o_custkey")
    customer.join(keys, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), lit("has_orders").as("status"))
      .unionByName(
        customer.join(keys, col("c_custkey") === col("o_custkey"), "left_anti")
          .select(col("c_custkey"), lit("no_orders").as("status")))
  }

  /** Q35: pivot — the dual of the reference's unpivot mapper. Pivot
    * values are declared, so this stays one partial+final hash agg
    * (no extra pass to discover the domain).
    */
  def pivotQuantities(lineitem: DataFrame): DataFrame =
    lineitem.groupBy("l_linestatus")
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(exactSum(col("l_quantity")))

  /** Q37: exact percentiles (median/p90) per group — sort-based within
    * the aggregation; at scale one would switch to approx_percentile
    * (t-digest) for a single-pass sketch.
    */
  def percentiles(lineitem: DataFrame): DataFrame =
    lineitem.groupBy("l_returnflag")
      .agg(
        expr("round(percentile(l_quantity, 0.5), 6)").as("p50_qty"),
        expr("round(percentile(l_quantity, 0.9), 6)").as("p90_qty"),
        expr("round(percentile(l_extendedprice, 0.5), 6)").as("p50_price"))

  /** Q96: fixed-width histogram — bin = min(floor(v/width), nBins-1),
    * a pure per-row expression plus one partial-aggregated groupBy:
    * the one-pass distributed histogram (bins known up front; the
    * data-dependent quantile side is q37/q44's sketch territory).
    * Division by a literal is IEEE correctly rounded, so binning is
    * bit-identical across engines; the top bin absorbs overflow so
    * out-of-range values are counted, not dropped.
    */
  def histogram(df: DataFrame, valueCol: String, width: Double,
                nBins: Int): DataFrame = {
    require(width > 0 && nBins > 0, "histogram needs positive width and bins")
    df.filter(col(valueCol).isNotNull)
      .select(least(floor(col(valueCol) / width), lit(nBins - 1))
        .cast("int").as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("lo", col("bin").cast("double") * width)
  }

  /** Q8: window functions — rank + running total per customer. One
    * shuffle on the partition key; running sum in exact decimal.
    */
  def customerOrderWindow(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders.select(
      col("o_custkey"), col("o_orderkey"),
      rank().over(w).as("rnk"),
      sum(col("o_totalprice").cast("decimal(18,2)")).over(running)
        .cast("double").as("running_total"))
  }
}
