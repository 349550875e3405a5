package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive content digest of a query result: the schema, the
  * row count, and the sum (mod 2^64) of one 64-bit hash per row. Every
  * floating-point value is snapped to 6 decimal places first, so a
  * summation-order wobble below 1e-6 does not change the digest. */
object Digest {
  final case class Result(rows: Long, digest: String)

  def of(df: DataFrame): Result = {
    val schema = df.schema.fields
      .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    var sum = rowHash(schema)
    val out = df.collect()
    out.foreach(r => sum += rowHash(render(r)))
    Result(out.length.toLong, f"$sum%016x")
  }

  private def rowHash(s: String): Long = {
    val md = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(md).getLong
  }

  def snap(x: Double): String =
    if (x.isNaN || x.isInfinite) x.toString
    else {
      val r = math.rint(x * 1e6) / 1e6
      (if (r == 0.0) 0.0 else r).toString
    }

  def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => snap(d)
    case f: Float => snap(f.toDouble)
    case b: java.math.BigDecimal =>
      b.setScale(6, java.math.RoundingMode.HALF_EVEN).toPlainString
    case b: BigDecimal => render(b.bigDecimal)
    case r: Row => (0 until r.length).map(i => render(r.get(i)))
      .mkString("(", "|", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }
        .sorted.mkString("{", ",", "}")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString("0x", "", "")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => other.toString
  }
}
