package graftbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** Order-insensitive result digests: (row count, sum over rows of a
  * per-row hash taken modulo a prime). A sum does not depend on row order
  * or partitioning, and hashing modulo the prime first keeps the sum far
  * from the 64-bit range, so it cannot overflow under ANSI mode.
  */
object Digest {
  val Prime = 2147483647L

  /** Runs the timed action over `df`: hashes every output column, so no
    * column can be pruned, and folds the hashes into one row. Columns are
    * renamed by position first, so duplicate or dotted names hash too. */
  def of(df: DataFrame): (Long, Long) = {
    val positional = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols: Seq[Column] = positional.schema.fields.toSeq.map { f =>
      f.dataType match {
        // map hashing is refused by Spark; entries sorted by key are not
        case _: MapType => array_sort(map_entries(col(f.name)))
        case _ => col(f.name)
      }
    }
    val hashed =
      if (cols.isEmpty) positional.select(lit(0L).as("h"))
      else positional.select(pmod(xxhash64(cols: _*), lit(Prime)).as("h"))
    val r = hashed.agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** The same digest shape over rows already on the driver. Fields are
    * keyed by name, so column order does not matter either. */
  def ofRows(rows: Iterable[Row]): (Long, Long) = {
    var n = 0L
    var s = 0L
    rows.foreach { r =>
      n += 1
      s += (MurmurHash3.stringHash(canonical(r)) & 0xffffffffL) % Prime
    }
    (n, s)
  }

  def canonical(v: Any): String = v match {
    case null => "null"
    case r: Row if r.schema != null =>
      r.schema.fieldNames.zipWithIndex.sortBy(_._1)
        .map { case (n, i) => s"$n=${canonical(r.get(i))}" }.mkString("{", ",", "}")
    case r: Row => r.toSeq.map(canonical).mkString("{", ",", "}")
    case d: Double => java.lang.Double.toString(d)
    case s: scala.collection.Seq[_] => s.map(canonical).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${canonical(k)}:${canonical(x)}" }.sorted
        .mkString("<", ",", ">")
    case a: Array[Byte] => a.mkString("b", ".", "")
    case other => other.toString
  }
}
