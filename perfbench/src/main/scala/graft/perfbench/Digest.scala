package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive digest of a query result: the row count plus the sum
  * (mod 2^64) of a 64-bit hash of each row's canonical text. Row order never
  * changes it; a changed, lost or duplicated row does. The schema's field
  * names and types are folded in too. */
object Digest {
  private def canon(v: Any): String = v match {
    case null => "␀"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case d: Double => if (d == 0.0) "0.0" else d.toString
    case f: Float => if (f == 0.0f) "0.0" else f.toString
    case other => other.toString
  }

  def rowHash(r: Row): Long = {
    val md = MessageDigest.getInstance("MD5").digest(canon(r).getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(md, 0, 8).getLong
  }

  def of(schema: StructType, rows: Iterable[Row]): String = {
    var sum = rowHash(Row(schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").toSeq: _*))
    rows.foreach(r => sum += rowHash(r))
    f"$sum%016x"
  }
}
