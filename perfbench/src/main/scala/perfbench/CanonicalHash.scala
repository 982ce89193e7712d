package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a whole result, every column included.
  *
  * Each row is hashed (xxhash64 over canonical column values, with a
  * null flag per column so nulls in different positions differ) and
  * the row hashes are summed exactly as decimals. Addition commutes, so
  * the digest does not depend on row order or partitioning, and the
  * aggregate consumes every column, so column pruning cannot skip work
  * the way a bare `count()` lets it. Floating-point values are rendered
  * to ten significant digits first, which absorbs last-bit differences
  * in reduction order.
  */
object CanonicalHash {

  private def canon(c: Column, dt: DataType): Column = dt match {
    case FloatType | DoubleType =>
      when(c.isNull, lit(null)).otherwise(format_string("%.9e", c.cast(DoubleType)))
    case ArrayType(et, _) =>
      transform(c, x => canon(x, et))
    case StructType(fields) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fields.toIndexedSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      canon(array_sort(map_entries(c)),
        ArrayType(StructType(Seq(StructField("key", kt), StructField("value", vt)))))
    case _ => c
  }

  /** Per-column hash inputs: the null flag, then the canonical value. */
  private def rowInputs(df: DataFrame): Seq[Column] =
    df.schema.fields.toIndexedSeq.flatMap { f =>
      val c = df.col(s"`${f.name.replace("`", "``")}`")
      Seq(c.isNull, canon(c, f.dataType))
    }

  /** `rows:sum1:sum2` — two independent 64-bit row hashes, summed. */
  def of(df: DataFrame): String = {
    val in = rowInputs(df)
    val r = df.select(
        xxhash64(in: _*).cast("decimal(38,0)").as("h1"),
        xxhash64(lit("perfbench") +: in: _*).cast("decimal(38,0)").as("h2"))
      .agg(count(lit(1)), coalesce(sum("h1"), lit(0)), coalesce(sum("h2"), lit(0)))
      .head()
    s"${r.getLong(0)}:${r.get(1)}:${r.get(2)}"
  }

  /** Row count encoded in a digest. */
  def rows(digest: String): Long = digest.takeWhile(_ != ':').toLong
}
