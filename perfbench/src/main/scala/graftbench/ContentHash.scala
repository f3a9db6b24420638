package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive content hash of a query result: the row count plus two
  * sums of independent 64-bit row hashes (each reduced mod 2^31-1, so the
  * sums cannot overflow), and the schema. Equal multisets of rows give equal
  * hashes under any partitioning or row order.
  */
object ContentHash {
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  def apply(df: DataFrame): String = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      if (hasMap(f.dataType)) to_json(struct(c)) else c
    }
    val p = lit(2147483647L)
    val r = df.select(xxhash64(cols: _*).as("a"), hash(cols: _*).cast("long").as("b"))
      .agg(count(lit(1)), sum(pmod(col("a"), p)), sum(pmod(col("b"), p)))
      .head()
    val schema = df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    f"${r.getLong(0)}%d-${Option(r.get(1)).getOrElse(0L)}-${Option(r.get(2)).getOrElse(0L)}-${schema.hashCode & 0xffffffffL}%08x"
  }
}
