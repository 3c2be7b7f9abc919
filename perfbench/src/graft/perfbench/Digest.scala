package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent content digest of a frame. Computing it reads every
  * output column (the row hash covers them all), so it also serves as
  * the action that forces a result: unlike `count()`, no column can be
  * pruned away.
  *
  * The row hash is xxhash64 over the columns, with maps turned into key-
  * sorted entry arrays first (map iteration order is not part of the
  * content). Rows combine by two 32-bit-half sums and a row count: a
  * commutative multiset fold, so partitioning and row order cannot
  * change it, while a duplicated or dropped row does. */
object Digest {

  final case class Value(rows: Long, lo: Long, hi: Long) {
    def hex: String = f"$rows%d:$lo%016x$hi%016x"
  }

  private def canon(c: Column, t: DataType): Column = t match {
    case MapType(_, v, _) =>
      array_sort(transform(map_entries(c),
        e => struct(e.getField("key").as("k"),
          canon(e.getField("value"), v).as("v"))))
    case ArrayType(e, _) if needsCanon(e) => transform(c, x => canon(x, e))
    case StructType(fs) if fs.exists(f => needsCanon(f.dataType)) =>
      struct(fs.toSeq.map(f => canon(c.getField(f.name), f.dataType)
        .as(f.name)): _*)
    case _ => c
  }

  private def needsCanon(t: DataType): Boolean = t match {
    case _: MapType => true
    case ArrayType(e, _) => needsCanon(e)
    case StructType(fs) => fs.exists(f => needsCanon(f.dataType))
    case _ => false
  }

  /** Hash column of one row; `lit(0)` keeps zero-column frames legal. */
  def rowHash(df: DataFrame): Column = {
    val cols = df.schema.fields.toSeq.map(f => canon(col(s"`${f.name}`"), f.dataType))
    xxhash64((lit(0) +: cols): _*)
  }

  def of(df: DataFrame): Value = {
    val h = rowHash(df)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)),
        coalesce(sum(col("h").bitwiseAND(lit(0xffffffffL))), lit(0L)),
        coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)))
      .head()
    Value(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** The same fold over driver-side row hashes (for collected results). */
  def ofHashes(hs: Iterator[Long]): Value = {
    var n = 0L; var lo = 0L; var hi = 0L
    hs.foreach { h => n += 1; lo += h & 0xffffffffL; hi += h >>> 32 }
    Value(n, lo, hi)
  }
}
