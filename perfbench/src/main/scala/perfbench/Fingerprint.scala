package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** An order-insensitive digest of a DataFrame's full output: the row
  * count plus the wrapping (mod 2^64) sum of one `xxhash64` per row over
  * every column. Consuming every column keeps Catalyst from pruning the
  * operators under test the way `count()` does. Map-typed values (which
  * `xxhash64` rejects) are hashed through `to_json`.
  */
final case class Fingerprint(rows: Long, hash: Long) {
  override def toString: String = f"$rows%d:$hash%016x"
}

object Fingerprint {

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Columns are addressed by position, so duplicate or dotted column
    * names cannot alias.
    */
  def of(df: DataFrame): Fingerprint = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val r = named.select((if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
      .head()
    val sum0 = Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO)
    // low 64 bits of the exact sum == the wrapping sum
    Fingerprint(r.getLong(0), sum0.toBigInteger.longValue)
  }

  /** Several outputs folded into one digest, each weighted by its name
    * so swapping two outputs changes the result.
    */
  def combine(parts: Seq[(String, Fingerprint)]): Fingerprint =
    parts.foldLeft(Fingerprint(0L, 0L)) { case (acc, (name, fp)) =>
      val w = name.hashCode.toLong * 0x9E3779B97F4A7C15L
      Fingerprint(acc.rows + fp.rows, acc.hash + fp.hash * (w | 1L))
    }
}
