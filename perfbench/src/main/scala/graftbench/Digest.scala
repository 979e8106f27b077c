package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType}

/** Order-independent digest of a query result: the row count, a 64-bit
  * sum of per-row hashes over every non-floating column (exact), and
  * per floating column the sum of its values (compared with a relative
  * tolerance, because partial sums merge in scheduling order). */
final case class Digest(rows: Long, rowHash: String, sums: Map[String, Double]) {
  def matches(o: Digest): Boolean =
    rows == o.rows && rowHash == o.rowHash && sums.keySet == o.sums.keySet &&
      sums.forall { case (k, v) =>
        val w = o.sums(k)
        (v.isNaN && w.isNaN) || math.abs(v - w) <= 1e-6 * math.max(1.0, math.max(math.abs(v), math.abs(w)))
      }
  def json: String =
    s"""{"rows":$rows,"row_hash":${Json.str(rowHash)},"sums":""" +
      sums.toSeq.sortBy(_._1).map { case (k, v) => Json.str(k) + ":" + Json.num(v) }
        .mkString("{", ",", "}") + "}"
}

object Digest {
  def of(df: DataFrame): Digest = {
    val fields = df.schema.fields.toSeq
    val floating = fields.indices.filter(i => fields(i).dataType match {
      case DoubleType | FloatType | _: DecimalType => true
      case _ => false
    }).toSet
    val exact = fields.indices.filterNot(floating)
    val rows = df.collect()
    var h = 0L
    val sums = Array.fill(fields.size)(0.0)
    rows.foreach { r =>
      h += hash64(exact.map(i => cell(r, i)).mkString("\u0001"))
      floating.foreach(i => if (!r.isNullAt(i)) sums(i) += r.getAs[Any](i).toString.toDouble)
    }
    Digest(rows.length.toLong, java.lang.Long.toHexString(h),
      floating.toSeq.map(i => fields(i).name -> sums(i)).toMap)
  }

  private def cell(r: Row, i: Int): String = if (r.isNullAt(i)) "\u0000" else r.get(i) match {
    case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
    case b: Array[Byte] => b.mkString("[", ",", "]")
    case v => v.toString
  }

  private def hash64(s: String): Long = {
    val a = scala.util.hashing.MurmurHash3.stringHash(s, 0x3c074a61)
    val b = scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995)
    (a.toLong << 32) ^ (b.toLong & 0xffffffffL)
  }

  def fromJson(n: com.fasterxml.jackson.databind.JsonNode): Digest = {
    import scala.jdk.CollectionConverters._
    Digest(n.get("rows").asLong(), n.get("row_hash").asText(),
      n.get("sums").fields().asScala.map(e => e.getKey -> e.getValue.asDouble()).toMap)
  }
}
