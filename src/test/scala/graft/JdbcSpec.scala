package graft

import java.sql.DriverManager

import graft.io.Jdbc

/** JDBC ingest/egress against embedded Derby (in the Spark jars dir) —
  * the analogue of the reference's PostgreSQL⇄Sqoop integration
  * (reference: test/src/.../EndToEndTest.java:104-165).
  */
class JdbcSpec extends SparkSpec {

  private val url = "jdbc:derby:memory:graftdb;create=true"

  private def withTable[T](body: => T): T = {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute("DROP TABLE SRC") catch { case _: Exception => }
      st.execute("CREATE TABLE SRC (id INT PRIMARY KEY, num0 INT, num1 INT)")
      val ps = conn.prepareStatement("INSERT INTO SRC VALUES (?, ?, ?)")
      (1 to 100).foreach { i =>
        ps.setInt(1, i); ps.setInt(2, i % 7); ps.setInt(3, (i + 1) % 7)
        ps.addBatch()
      }
      ps.executeBatch()
      try st.execute("DROP TABLE DST") catch { case _: Exception => }
      st.execute("CREATE TABLE DST (id INT, mean INT)")
      body
    } finally conn.close()
  }

  test("boundary pre-query computes min/max inside the RDBMS") {
    withTable {
      val b = Jdbc.boundary(url, "", "", "SELECT id, num0 FROM SRC WHERE id > 10", "id")
      assert(b === Jdbc.Bounds(11, 100))
    }
  }

  test("partitioned read pushes projection+filter and splits ranges") {
    withTable {
      val df = Jdbc.readPartitioned(spark, url, "", "",
        "SELECT id, num0 FROM SRC WHERE id <= 50", "id", 4)
      assert(df.rdd.getNumPartitions === 4)
      assert(df.count() === 50)
      assert(df.columns.toSeq.map(_.toLowerCase) === Seq("id", "num0"))
    }
  }

  test("append export lands all rows in a pre-existing table") {
    withTable {
      import spark.implicits._
      val out = Seq((0, 3), (1, 3)).toDF("id", "mean")
      Jdbc.writeAppend(out, url, "", "", "DST")
      val df = Jdbc.read(spark, url, "", "", "SELECT id, mean FROM DST")
      assert(df.count() === 2)
    }
  }

  test("filters on a JDBC scan are pushed into the RDBMS plan") {
    withTable {
      import spark.implicits._
      // the reference's contract: the WHERE evaluates inside the RDBMS
      // (MapReduceWSIImpl.java:114-124 / sqoop --query); on Spark the
      // optimizer must push the filter into the JDBC scan node, not
      // post-filter the full table transfer
      val df = Jdbc.read(spark, url, "", "", "SELECT id, num0 FROM SRC")
        .filter($"id" > 90)
      val scan = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString("\n")
      assert(scan.contains("PushedFilters"),
        s"expected a JDBC scan with pushdown metadata, got:\n$scan")
      assert(scan.contains("GreaterThan(ID,90)"),
        s"filter not pushed into the JDBC scan:\n$scan")
      assert(df.count() === 10)
    }
  }

  test("boundary rejects non-identifier partition columns") {
    withTable {
      // sane columns still work
      assert(Jdbc.boundary(url, "", "", "SELECT id FROM SRC", "id").max === 100L)
      for (bad <- Seq("id); DROP TABLE SRC; --", "min(id)", "id, num0", "1=1", ""))
        assertThrows[graft.core.GraftException](
          Jdbc.boundary(url, "", "", "SELECT id FROM SRC", bad))
    }
  }

  test("splitRanges covers [min,max] with unbounded outer edges") {
    val r = Jdbc.splitRanges(0, 100, 4)
    assert(r.size === 4)
    assert(r.head._1.isEmpty && r.last._2.isEmpty)
    assert(r(1) === (Some(25L), Some(50L)))
    assert(Jdbc.splitRanges(5, 5, 8) === Seq((None, None)))
    // non-multiple bounds use Spark's JDBCRelation stride
    // (upper/n - lower/n): min=3, max=10, n=4 → stride 2, bounds 5,7,9
    assert(Jdbc.splitRanges(3, 10, 4) === Seq(
      (None, Some(5L)), (Some(5L), Some(7L)), (Some(7L), Some(9L)), (Some(9L), None)))
    // narrow POSITIVE range, many partitions: no empty (x, x) ranges
    // (bounds straddling zero can yield stride 0 — JDBCRelation parity)
    val narrow = Jdbc.splitRanges(0, 5, 8)
    assert(narrow.size === 5)
    assert(narrow.forall { case (lo, hi) =>
      (lo, hi) match { case (Some(a), Some(b)) => a < b; case _ => true } })
  }
}
