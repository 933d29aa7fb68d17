package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent result digest: the row count plus the sum of
  * `xxhash64` over every column. Floating-point values are rounded
  * first (and -0.0 folded into 0.0) so that summation order inside an
  * aggregate cannot change the digest; maps are hashed as their sorted
  * entries.
  */
final case class Digest(rows: Long, hashSum: String) {
  override def toString: String = s"$rows:$hashSum"
}

object Digest {

  private def hasFloat(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case ArrayType(e, _) => hasFloat(e)
    case StructType(fs) => fs.exists(f => hasFloat(f.dataType))
    case MapType(k, v, _) => hasFloat(k) || hasFloat(v)
    case _ => false
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case ArrayType(e, _) => hasMap(e)
    case StructType(fs) => fs.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** A hashable, rounding-stable projection of column `c` of type `t`. */
  def stable(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      val r = round(c.cast(DoubleType), 6)
      when(r === 0.0, lit(0.0)).otherwise(r)
    case ArrayType(e, _) if hasFloat(e) || hasMap(e) => transform(c, x => stable(x, e))
    case StructType(fs) if hasFloat(t) || hasMap(t) =>
      struct(fs.toIndexedSeq.map(f => stable(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(k, v, _) =>
      val entries = StructType(Seq(StructField("key", k), StructField("value", v)))
      sort_array(transform(map_entries(c), x => stable(x, entries)))
    case _ => c
  }

  def of(df: DataFrame): Digest = {
    val cols = df.schema.fields.toIndexedSeq.map(f => stable(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0))))
      .collect()(0)
    Digest(r.getLong(0), r.getDecimal(1).toBigInteger.toString)
  }
}
