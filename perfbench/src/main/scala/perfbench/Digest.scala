package perfbench

import java.math.{MathContext, BigDecimal => JBigDecimal}
import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive digest of an operation's output: the row count and
  * the wrapping sum of a 64-bit hash of each row's canonical text.
  * Doubles and floats are rounded to [[Digits]] significant digits, so
  * the summation order inside a distributed aggregate cannot change the
  * digest. Arrays keep their order, maps are sorted by entry.
  */
object Digest {
  val Digits = 6
  private val Ctx = new MathContext(Digits)

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new JBigDecimal(d).round(Ctx).stripTrailingZeros.toString

  def canon(v: Any): String = v match {
    case null => "~"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: JBigDecimal => b.stripTrailingZeros.toPlainString
    case s: String => s"${s.length}'$s"
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case t: java.sql.Timestamp => t.toInstant.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  def hash64(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }

  def render(rows: Long, sum: Long): String = f"$rows:$sum%016x"

  /** Digest of a frame; runs one Spark job over it. */
  def of(df: DataFrame): String = {
    val (n, s) = df.rdd.mapPartitions { it =>
      var n = 0L
      var s = 0L
      it.foreach { r => n += 1; s += hash64(canon(r)) }
      Iterator.single((n, s))
    }.fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
    render(n, s)
  }
}
