package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** An order-insensitive summary of a query result: its schema, its row
  * count and two sums of per-row hashes. Integer sums are exact and
  * commutative, so the fingerprint does not depend on row order or on
  * how the rows are partitioned. Floating-point values are rendered to
  * ten significant digits first, so a sum whose last bits depend on
  * the order of addition still hashes the same.
  */
final case class Fingerprint(schema: String, rows: Long, h1: Long, h2: Long) {
  def fields: Map[String, Any] = Map("schema" -> schema, "rows" -> rows, "h1" -> h1, "h2" -> h2)
}

object Fingerprint {
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType          => format_string("%.9e", c)
    case FloatType           => format_string("%.6e", c.cast(DoubleType))
    case ArrayType(e, _)     => transform(c, x => canon(x, e))
    case StructType(fs)      => struct(fs.toSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _: MapType          => to_json(c)
    case _                   => c
  }

  def of(df: DataFrame): Fingerprint = {
    val fields = df.schema.fields.toSeq
    val positional = df.toDF(fields.indices.map(i => s"c$i"): _*)
    val cells = fields.zipWithIndex.map { case (f, i) => canon(col(s"c$i"), f.dataType) }
    // a constant leads each row so a zero-column result still hashes
    val row = lit(1) +: cells
    val r = positional
      .select(pmod(xxhash64(row: _*), lit(2147483647L)).as("a"),
        pmod(hash(row: _*), lit(2147483647)).cast(LongType).as("b"))
      .agg(count(lit(1)), coalesce(sum(col("a")), lit(0L)), coalesce(sum(col("b")), lit(0L)))
      .head()
    Fingerprint(df.schema.simpleString, r.getLong(0), r.getLong(1), r.getLong(2))
  }
}
