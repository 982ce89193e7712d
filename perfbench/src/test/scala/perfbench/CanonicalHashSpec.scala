package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class CanonicalHashSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "3")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def sample = {
    import spark.implicits._
    (1 to 200).map(i => (i.toLong, if (i % 7 == 0) null else s"t$i", i / 3.0,
      Seq(i.toFloat, -i.toFloat), Map(s"k$i" -> i)))
      .toDF("id", "text", "x", "vec", "m")
      .withColumn("s", struct(col("id"), col("x")))
  }

  test("the digest ignores row order and partition count") {
    val df = sample
    val d = CanonicalHash.of(df)
    assert(CanonicalHash.of(df.orderBy(col("id").desc)) == d)
    assert(CanonicalHash.of(df.repartition(7)) == d)
    assert(CanonicalHash.of(df.coalesce(1)) == d)
    assert(CanonicalHash.rows(d) == 200)
  }

  test("the digest sees every column and every row") {
    val df = sample
    val d = CanonicalHash.of(df)
    assert(CanonicalHash.of(df.withColumn("x", col("x") + 1)) != d)
    assert(CanonicalHash.of(df.withColumn("vec", reverse(col("vec")))) != d)
    assert(CanonicalHash.of(df.filter(col("id") =!= 5)) != d)
    assert(CanonicalHash.of(df.union(df.filter(col("id") === 5))) != d)
  }

  test("nulls in different columns give different digests") {
    import spark.implicits._
    val a = Seq[(String, String)](("a", null)).toDF("p", "q")
    val b = Seq[(String, String)]((null, "a")).toDF("p", "q")
    assert(CanonicalHash.of(a) != CanonicalHash.of(b))
  }

  test("floating-point values agree to ten significant digits") {
    import spark.implicits._
    val a = Seq(0.1 + 0.2).toDF("v")
    val b = Seq(0.3).toDF("v")
    assert(CanonicalHash.of(a) == CanonicalHash.of(b))
  }

  test("an empty result has a digest") {
    assert(CanonicalHash.of(sample.filter(lit(false))) == "0:0:0")
  }
}
