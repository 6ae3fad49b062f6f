package graftbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a query result: the row count plus two
  * sums of 32-bit row hashes. Doubles are rounded to 4 decimals (and
  * -0.0 folded into 0.0) and arrays sorted, so summation order and
  * partition layout never change the digest, while any changed value,
  * row or multiplicity does.
  */
final case class Digest(rows: Long, h1: Long, h2: Long) {
  def toMap: Map[String, Any] = Map("rows" -> rows, "h1" -> h1, "h2" -> h2)
}

object Digest {

  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 4) + lit(0.0)
    case ArrayType(et, _) => sort_array(transform(c, x => canon(x, et)))
    case s: StructType =>
      struct(s.fields.toSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case m: MapType =>
      sort_array(map_entries(transform_values(c, (_, v) => canon(v, m.valueType))))
    case _ => c
  }

  /** `df` with a pass-through metrics node that digests every output
    * row of the one execution that writes it; read with [[from]].
    */
  def observe(df: DataFrame, obs: Observation): DataFrame = {
    val fields = df.schema.fields.toSeq
    val byPosition = df.toDF(fields.indices.map(i => s"c$i"): _*)
    val cols = fields.zipWithIndex.map { case (f, i) => canon(col(s"c$i"), f.dataType) }
    val mask = lit(0xFFFFFFFFL)
    byPosition.observe(obs,
      count(lit(1)).as("rows"),
      coalesce(sum(xxhash64(cols: _*).bitwiseAND(mask)), lit(0L)).as("h1"),
      coalesce(sum(xxhash64(lit(0x5bd1e995) +: cols: _*).bitwiseAND(mask)), lit(0L)).as("h2"))
  }

  def from(obs: Observation): Digest = {
    val m = obs.get
    Digest(m("rows").asInstanceOf[Long], m("h1").asInstanceOf[Long], m("h2").asInstanceOf[Long])
  }
}
