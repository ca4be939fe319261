package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a query's full output.
  *
  * Every output column is hashed, floating-point values first rounded
  * to the 6 dp the DuckDB oracle replay compares at, so Catalyst can
  * neither prune a column nor drop a sort the caller pays for (what a
  * `count()` allows). Row hashes are sorted before they are combined:
  * row order does not matter, duplicate rows do.
  */
object Digest {
  val Decimals = 6

  private def hasFloat(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case ArrayType(e, _) => hasFloat(e)
    case StructType(fs) => fs.exists(f => hasFloat(f.dataType))
    case _ => false
  }

  private def normalize(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), Decimals)
    case ArrayType(e, _) if hasFloat(e) => transform(c, x => normalize(x, e))
    case StructType(fs) if hasFloat(t) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.map(f => normalize(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*))
    case _ => c
  }

  /** Per-row hashes of `df`, as the query itself runs. */
  def rowHashes(df: DataFrame): Array[Long] = {
    // positional names: output columns may repeat a name
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toIndexedSeq.map(f => normalize(col(f.name), f.dataType))
    // the column count rides along so an all-null row still hashes
    named.select(xxhash64((lit(cols.length) +: cols): _*)).collect().map(_.getLong(0))
  }

  /** Hex digest of the sorted row hashes, prefixed by the row count. */
  def of(hashes: Array[Long]): String = {
    val sorted = hashes.sorted
    val md = MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(8)
    sorted.foreach { h => buf.clear(); buf.putLong(h); md.update(buf.array()) }
    s"${sorted.length}:" + md.digest().take(12).map("%02x".format(_)).mkString
  }

  def of(df: DataFrame): String = of(rowHashes(df))
}
