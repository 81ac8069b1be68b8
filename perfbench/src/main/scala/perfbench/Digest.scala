package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a query's full output.
  *
  * Columns are taken in name order and rows enter only through sums of
  * two independent row hashes, so neither row order nor column order
  * changes the digest, while every column's value does. Map columns are
  * hashed as their entries sorted by key, because Spark refuses to hash
  * maps and a map's entry order is not part of its value. */
object Digest {

  case class Result(rows: Long, digest: String)

  def of(df: DataFrame): Result = {
    val fields = df.schema.fields.toSeq
    val renamed = df.toDF(fields.indices.map(i => s"_c$i"): _*)
    val cols = fields.zipWithIndex
      .sortBy { case (f, _) => (f.name, f.dataType.catalogString) }
      .map { case (f, i) => canonical(col(s"_c$i"), f.dataType) }
    val names = fields.map(f => s"${f.name}:${f.dataType.catalogString}").sorted
    val rowHashes =
      if (cols.isEmpty) renamed.select(lit(0L).as("x"), lit(0).as("m"))
      else renamed.select(xxhash64(cols: _*).as("x"), hash(cols: _*).as("m"))
    val agg = rowHashes.agg(
      count(lit(1)),
      coalesce(sum(col("x").cast(DecimalType(38, 0))), lit(0).cast(DecimalType(38, 0))),
      coalesce(sum(col("m").cast(DecimalType(38, 0))), lit(0).cast(DecimalType(38, 0))))
      .head()
    val rows = agg.getLong(0)
    val text = s"${names.mkString(",")}|$rows|${agg.getDecimal(1)}|${agg.getDecimal(2)}"
    val md5 = java.security.MessageDigest.getInstance("MD5").digest(text.getBytes("UTF-8"))
    Result(rows, md5.map("%02x".format(_)).mkString)
  }

  private def canonical(c: Column, t: DataType): Column = t match {
    case MapType(_, _, _) => array_sort(map_entries(c))
    case _ => c
  }
}
