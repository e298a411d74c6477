package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, count, lit, map_entries, shiftright, sum, xxhash64}
import org.apache.spark.sql.types.MapType

/** Full-width, order-independent digest of a result: the row count and
  * two sums over a 64-bit hash of every output column. Summing (not
  * xor-ing) keeps the multiplicity of duplicate rows in the digest, so
  * swapping one duplicated row for another changes it. The hash is
  * split into 32-bit halves before summing, so neither sum overflows a
  * long below 2^31 rows. Hashing every column forces Catalyst to
  * compute every output column. */
object Digest {

  def frame(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      f.dataType match {
        case _: MapType => map_entries(c)
        case _ => c
      }
    }
    df.select(xxhash64(cols: _*).as("h"))
      .agg(
        count(lit(1)),
        sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))),
        sum(shiftright(col("h"), 32)))
  }

  /** `rows:lo:hi` from the single row of [[frame]]. */
  def render(r: Row): String = {
    def l(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    s"${l(0)}:${l(1)}:${l(2)}"
  }

  def of(df: DataFrame): String = render(frame(df).collect()(0))
}
