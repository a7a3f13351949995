package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, Row}

/** Order-free digest of a query result, computed the same way by
  * `digests.py` over DuckDB's oracle result: columns sorted by name,
  * every value rendered to one canonical text, rows sorted by their
  * UTF-8 bytes, SHA-256 over the lot. The rendering erases the type
  * differences the oracle compare already ignores (int vs double vs
  * decimal holding the same number) but never rounds: every number is
  * its exact decimal expansion.
  */
object Digest {

  final case class Result(digest: String, rows: Long)

  /** Order-free checksum computed inside Spark, for comparing two Spark
    * results without collecting them: row count plus the sum of each
    * row's xxhash64 over its columns sorted by name.
    */
  def checksum(df: DataFrame): Result = {
    import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum,
      xxhash64}
    val cols = df.columns.sorted.map(col).toSeq
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0))).head()
    Result(s"${r.getLong(0)}:${r.getDecimal(1).toBigInteger}", r.getLong(0))
  }

  def of(df: DataFrame): Result = {
    val names = df.columns.toIndexedSeq
    val order = names.indices.sortWith((a, b) =>
      java.util.Arrays.compareUnsigned(names(a).getBytes(UTF_8),
        names(b).getBytes(UTF_8)) < 0)
    val rows = df.collect().map { r =>
      order.map(i => canon(r.get(i))).mkString("|").getBytes(UTF_8)
    }
    java.util.Arrays.sort(rows,
      (a: Array[Byte], b: Array[Byte]) => java.util.Arrays.compareUnsigned(a, b))
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(order.map(names).mkString(",").getBytes(UTF_8))
    rows.foreach { r => md.update("\n".getBytes(UTF_8)); md.update(r) }
    Result(md.digest().map(b => f"${b & 0xff}%02x").mkString, rows.length)
  }

  private def plain(b: java.math.BigDecimal): String =
    if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString

  private def num(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else plain(new java.math.BigDecimal(d))

  private def micros(i: java.time.Instant): Long =
    i.getEpochSecond * 1000000L + i.getNano / 1000

  def canon(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "T" else "F"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n @ (_: Byte | _: Short | _: Int | _: Long) => n.toString
    case d: java.math.BigDecimal => plain(d)
    case d: scala.math.BigDecimal => plain(d.bigDecimal)
    case s: String => s"s${s.getBytes(UTF_8).length}:$s"
    case d: java.sql.Date => "d" + d.toLocalDate
    case d: java.time.LocalDate => "d" + d
    case t: java.sql.Timestamp => "t" + micros(t.toInstant)
    case t: java.time.Instant => "t" + micros(t)
    case t: java.time.LocalDateTime =>
      "t" + micros(t.toInstant(java.time.ZoneOffset.UTC))
    case b: Array[Byte] => "b" + b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => "?" + other
  }
}
