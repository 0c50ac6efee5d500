package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row count plus an order-insensitive hash of every column, computed in one
  * aggregate. Because the hash reads every output column, Catalyst cannot
  * prune a column away and skip the expressions that produce it, as it could
  * for a bare `count()`. */
final case class Digest(rows: Long, hash: BigDecimal) {
  override def toString: String = s"$rows\t$hash"
}

object Digest {

  /** Each value becomes canonical text first: the hash then depends on the
    * values and not on which integral or string type the program picked. */
  private def text(c: Column, t: DataType): Column = t match {
    case BinaryType => hex(c)
    case m: MapType => sort_array(map_entries(c)).cast(StringType)
    case _: StringType => c
    case _ => c.cast(StringType)
  }

  def of(df: DataFrame): Digest = {
    val cols = df.schema.fields.sortBy(_.name).map(f => text(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toSeq: _*)
    val r = df.agg(count(lit(1)), sum(h.cast(DecimalType(20, 0)))).collect().head
    Digest(r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }
}
