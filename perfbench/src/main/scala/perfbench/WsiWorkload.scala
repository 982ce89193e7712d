package perfbench

import java.sql.{Connection, DriverManager}

import org.apache.spark.sql.functions._

import graft.core.Scopes
import graft.io.Jdbc
import graft.ops.{MapReduceOps, PipeOps}

/** The reference's own client session, repeated: create a scope,
  * import an RDBMS table through a partitioned import with projection
  * and filter pushed down, run the typed MapReduce job and the
  * streaming pipe job, export both results into a pre-existing table,
  * delete the scope.
  *
  * The source table lives in embedded in-memory Derby: `rows` rows of
  * an id and seven INT columns (plus a text column the projection
  * drops), values drawn from the seed. The generator keeps its own sums
  * of the rows the filter keeps, so every session's exported rows are
  * read back and compared with exact arithmetic.
  */
final class WsiWorkload(rows: Int) extends Workload {
  private val url = "jdbc:derby:memory:perfbench;create=true"
  private val cols = (0 until 7).map(i => s"num$i")
  private val query = s"SELECT id, ${cols.mkString(", ")} FROM SRC WHERE MOD(id, 10) <> 3"

  /** The awk mapper and reducer, written the way `SparkEntry.pipeQuery`
    * writes them: the mapper emits `column\tvalue`, the reducer sums
    * each column's values.
    */
  private val mapper =
    """#!/bin/sh
      |exec awk -F',' '{ for (i = 1; i <= NF; i++) printf "%d\t%d\n", i - 1, $i }'
      |""".stripMargin
  private val reducer =
    """#!/bin/sh
      |exec awk -F'\t' '
      |  NR == 1 { k = $1 }
      |  $1 != k { printf "%s\t%d\n", k, s; k = $1; s = 0 }
      |  { s += $2; n++ }
      |  END { if (n > 0) printf "%s\t%d\n", k, s }'
      |""".stripMargin

  private var conn: Connection = _
  private var kept = 0L
  private var sums = Array.fill(7)(0L)
  private var session = 0

  /** splitmix64: the value stream every column is drawn from. */
  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def setup(ctx: Ctx): Unit = {
    if (conn == null) conn = DriverManager.getConnection(url)
    val st = conn.createStatement()
    Seq("SRC", "RESULT").foreach { t =>
      try st.execute(s"DROP TABLE $t") catch { case _: java.sql.SQLException => () }
    }
    st.execute(s"CREATE TABLE SRC (id INT PRIMARY KEY, ${cols.map(_ + " INT").mkString(", ")}, note VARCHAR(16))")
    st.execute("CREATE TABLE RESULT (session_id INT, src VARCHAR(8), id INT, val BIGINT)")
    conn.setAutoCommit(false)
    val ps = conn.prepareStatement(s"INSERT INTO SRC VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?)")
    kept = 0L
    sums = Array.fill(7)(0L)
    var id = 0
    while (id < rows) {
      val v = mix(ctx.seed * 1000003L + id)
      ps.setInt(1, id)
      var i = 0
      while (i < 7) {
        val x = ((v >>> (9 * i)) & 511L).toInt % 100
        ps.setInt(i + 2, x)
        if (id % 10 != 3) sums(i) += x
        i += 1
      }
      ps.setString(9, "r" + id)
      ps.addBatch()
      if (id % 10 != 3) kept += 1
      id += 1
      if (id % 5000 == 0) ps.executeBatch()
    }
    ps.executeBatch()
    conn.commit()
    conn.setAutoCommit(true)
  }

  /** Sessions are short and keep speeding up for several sessions
    * (Derby, the pipe and the JDBC writer warm up too), so four warm up.
    */
  override def warmup(ctx: Ctx): Unit = (1 to 4).foreach(_ => pass(ctx, 0))

  def pass(ctx: Ctx, n: Int): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    session += 1
    val sid = session
    var scope: graft.core.Scope = null
    ctx.op("create", "scope") {
      scope = ctx.span("scopes")(Scopes.create(spark, s"${ctx.work}/scopes"))
    }
    ctx.op("import", "jdbc") {
      val df = ctx.span("jdbc")(Jdbc.readPartitioned(spark, url, "", "", query, "id", ctx.cores))
      ctx.span("scopes")(Scopes.save(df, scope, "input"))
      ctx.note("rows", kept.toDouble)
    }
    ctx.op("mapreduce", "typed") {
      val out = ctx.span("mapreduce")(
        MapReduceOps.unpivotGroupedMeanTyped(spark, Scopes.load(spark, scope, "input"), cols))
      ctx.span("scopes")(Scopes.save(out, scope, "mean"))
    }
    ctx.op("pipe", "awk") {
      val lines = Scopes.load(spark, scope, "input").select(concat_ws(",", cols.map(col): _*))
      val out = ctx.span("pipe")(PipeOps.pipeMapReduceDF(lines, mapper, reducer))
        .selectExpr("cast(split(line, '\t')[0] as int) as id",
          "cast(split(line, '\t')[1] as bigint) as total")
      ctx.span("scopes")(Scopes.save(out, scope, "total"))
      ctx.note("lines", kept.toDouble)
    }
    ctx.op("export", "jdbc") {
      val out = Scopes.load(spark, scope, "mean")
        .select(lit(sid).as("session_id"), lit("mr").as("src"), $"id", $"mean".as("val"))
        .unionByName(Scopes.load(spark, scope, "total")
          .select(lit(sid).as("session_id"), lit("pipe").as("src"), $"id", $"total".as("val")))
      ctx.span("jdbc")(Jdbc.writeAppend(out, url, "", "", "RESULT"))
      ctx.note("rows", 14)
    }
    ctx.op("delete", "scope") {
      ctx.note("scope_bytes", Scopes.inventory(spark, scope).map(_.total_bytes).sum.toDouble)
      ctx.span("scopes")(Scopes.delete(spark, scope))
    }
    verify(ctx, sid)
  }

  /** Reads the session's exported rows back from Derby and compares
    * them with the generator's arithmetic; a mismatch fails the
    * session's export op.
    */
  private def verify(ctx: Ctx, sid: Int): Unit = {
    val got = scala.collection.mutable.Map.empty[(String, Int), Long]
    val rs = conn.createStatement().executeQuery(
      s"SELECT src, id, val FROM RESULT WHERE session_id = $sid")
    while (rs.next()) got((rs.getString(1), rs.getInt(2))) = rs.getLong(3)
    val want = (0 until 7).flatMap { i =>
      Seq(("mr", i) -> (sums(i) / kept - (sums(i) % kept) * 100), ("pipe", i) -> sums(i))
    }.toMap
    if (got.toMap != want) ctx.failOp(ctx.samples.lastIndexWhere(_.kind == "export"),
      s"session $sid exported ${got.toMap}, want $want")
  }

  override def extraEndToEnd(ops: Seq[OpSample]): Seq[(String, Double, String)] =
    Seq("import", "mapreduce", "pipe", "export").map { k =>
      (s"${k}_p50_s", Stats.median(ops.filter(_.kind == k).map(_.seconds)), "s")
    }

  override def layers(ops: Seq[OpSample], passes: Int): Map[String, Double] = {
    def of(k: String) = ops.filter(_.kind == k)
    def perPass(xs: Seq[Double]) = xs.sum / passes
    Map(
      "jdbc.import_rows_per_s" -> of("import").map(_.value("rows")).sum / of("import").map(_.seconds).sum,
      "jdbc.import_tasks" -> perPass(of("import").map(_.counts.tasks.toDouble)),
      "jdbc.export_rows_per_s" -> of("export").map(_.value("rows")).sum / of("export").map(_.seconds).sum,
      "mr.ms" -> perPass(of("mapreduce").map(_.seconds * 1e3)),
      "mr.shuffle_write_mb" -> perPass(of("mapreduce").map(_.counts.shuffleWriteBytes / 1e6)),
      "pipe.ms" -> perPass(of("pipe").map(_.seconds * 1e3)),
      "pipe.lines_in" -> perPass(of("pipe").map(_.value("lines"))),
      "pipe.child_processes" -> perPass(of("pipe").map(_.counts.pipeTasks.toDouble)),
      "scopes.bytes_written" -> perPass(of("delete").map(_.value("scope_bytes"))))
  }

  override def close(ctx: Ctx): Unit =
    if (conn != null) {
      conn.close()
      try DriverManager.getConnection("jdbc:derby:memory:perfbench;drop=true")
      catch { case _: java.sql.SQLException => () }
    }
}
