package graft

import org.apache.spark.sql.functions.{array, col, expr, lit}

import graft.functions.VectorFunctions.rollingHash

class RollingHashSpec extends SparkSpec {
  import spark.implicits._

  private val lambdaForm =
    """aggregate(split(s, ''), cast(0 as bigint),
      |  (acc, c) -> (acc * 31 + ascii(c)) % 2147483647)""".stripMargin

  test("rolling_hash matches the interpreted lambda form exactly") {
    val rows = Seq("", "a", "hello world", "käse ünd ßöße",
      "emoji 😀 pair", "\n\ttabs and\nnewlines",
      "0123456789" * 50).toDF("s")
    val out = rows.select(rollingHash(col("s")).as("native"), expr(lambdaForm).as("hof"))
      .collect()
    out.foreach(r => assert(r.getLong(0) === r.getLong(1), r))
  }

  test("rolling_hash types its input at analysis time: atomics coerce, arrays are rejected") {
    // ImplicitCastInputTypes: an int argument is cast to its string
    // form during ANALYSIS (no codegen ClassCastException), so
    // rolling_hash(123) == rolling_hash('123')
    val r = Seq(1).toDF("x")
      .select(rollingHash(lit(123)).as("coerced"), rollingHash(lit("123")).as("direct"))
      .collect().head
    assert(r.getLong(0) === r.getLong(1))
    // an incompatible (non-castable) input fails analysis with a clear
    // type error, not at execution time
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(1).toDF("x").select(rollingHash(array(lit(1), lit(2)))).collect()
    }
    assert(err.getMessage.toLowerCase.contains("rolling_hash"), err.getMessage)
  }

  test("rolling_hash participates in whole-stage codegen and handles null") {
    // a real scan input — literal rows would constant-fold the whole
    // expression at plan time and hide the codegen path
    val docs = graft.io.Tables.parquet(spark, sf, "documents")
    val df = docs.select(rollingHash(col("text")).as("rh"))
    // "*(1)" prefixes are the WholeStageCodegen markers in simpleString
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [rolling_hash"), plan)
    assert(df.count() > 0)
    // null propagates; spot value: acc("abc") = ((97*31+98)*31+99) % p
    val vals = docs.limit(1).select(rollingHash(lit(null).cast("string")).as("n"),
      rollingHash(lit("abc")).as("v")).collect().head
    assert(vals.isNullAt(0))
    assert(vals.getLong(1) === ((97L * 31 + 98) * 31 + 99) % 2147483647L)
  }
}
