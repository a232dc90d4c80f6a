package perfbench

import org.apache.spark.sql.{DataFrame, Encoders, Row}

/** Row count plus an order-independent 64-bit content hash of a result.
  *
  * Each row is rendered to a canonical string (doubles rounded to six
  * significant digits, so summation order under a different task
  * schedule cannot flip a bit; arrays, structs and maps rendered
  * recursively), hashed to 64 bits, and the hashes are summed
  * (wrapping). The sum is a multiset digest: row order never matters,
  * row multiplicity always does. Computed on the executors, so the
  * digest is the operation's sink and materializes every column.
  */
final case class Digest(rows: Long, hash: Long) {
  def hex: String = f"$hash%016x"
}

object Digest {

  def of(df: DataFrame): Digest = {
    val parts = df.mapPartitions { it =>
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += rowHash(r) }
      Iterator((n, h))
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)).collect()
    Digest(parts.map(_._1).sum, parts.map(_._2).sum)
  }

  def rowHash(r: Row): Long = {
    val s = render(r)
    val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x5eed)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x0b5e55ed)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }

  private val sig6 = new java.math.MathContext(6)

  def render(v: Any): String = v match {
    case null => "~"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else new java.math.BigDecimal(d).round(sig6).stripTrailingZeros.toString
    case f: Float => render(f.toDouble)
    case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("(", "|", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "=" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case x => x.toString
  }
}
