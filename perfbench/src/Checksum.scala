package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent table checksum: the row count and the sum, as an
  * exact decimal, of one 64-bit hash per row. Row order and partitioning
  * do not change it; any changed value, lost row or extra row does.
  *
  * Floating-point columns are hashed after a cast to 32-bit float, so
  * the last-bit noise of a double sum whose order depends on task
  * timing cannot flip the checksum. Maps are hashed through their JSON.
  */
object Checksum {

  final case class Value(rows: Long, sum: String) {
    override def toString: String = s"$rows/$sum"
  }

  private def normalized(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => c.cast(FloatType)
    case ArrayType(DoubleType | FloatType, _) => c.cast(ArrayType(FloatType))
    case _: MapType => to_json(struct(c.as("m")))
    case _ => c
  }

  /** The checksum of `df` without the columns in `exclude`. Columns are
    * renamed to positional names first, so that duplicate or dotted output
    * column names cannot collide.
    */
  def of(df: DataFrame, exclude: Set[String] = Set.empty): Value = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val kept = df.schema.fields.zipWithIndex.collect {
      case (f, i) if !exclude(f.name) => normalized(col(s"c$i"), f.dataType)
    }.toSeq
    val hash = if (kept.isEmpty) lit(0L) else xxhash64(kept: _*)
    val r = named.agg(count(lit(1)), sum(hash.cast(DecimalType(38, 0)))).head()
    Value(r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }
}
