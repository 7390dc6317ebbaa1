package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}

import scala.util.hashing.MurmurHash3

/** Row count and an order-insensitive checksum of a query's full result.
  * Every column is read, so the result is consumed as a sink that prunes
  * nothing. Each row is rendered with its columns sorted by name and its
  * floating-point values rounded to 9 significant digits (the oracle
  * comparison's normalization); the checksum is the sum of the rows'
  * 64-bit hashes, so row order does not matter. */
object Checksum {
  final case class Sum(rows: Long, hash: Long) {
    def hex: String = f"$hash%016x"
  }

  def of(df: DataFrame): Sum = {
    val names = df.schema.fieldNames
    val order = names.indices.sortBy(i => names(i)).toArray
    val parts = df.rdd.mapPartitions { it =>
      var n = 0L
      var h = 0L
      it.foreach { r =>
        n += 1
        h += rowHash(r, order, names)
      }
      Iterator.single((n, h))
    }.collect()
    Sum(parts.map(_._1).sum, parts.map(_._2).sum)
  }

  def rowHash(r: Row, order: Array[Int], names: Array[String]): Long = {
    val sb = new StringBuilder
    order.foreach { i => sb.append(names(i)).append('=').append(canon(r.get(i))).append(';') }
    val bytes = sb.toString.getBytes("UTF-8")
    (MurmurHash3.bytesHash(bytes, 0x3c074a61).toLong << 32) |
      (MurmurHash3.bytesHash(bytes, 0x5bd1e995).toLong & 0xffffffffL)
  }

  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => f"bin:${b.length}:${MurmurHash3.bytesHash(b)}%08x"
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("(", ",", ")")
    case other => other.toString
  }

  private val nine = new java.math.MathContext(9)

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(nine).stripTrailingZeros.toString
}
