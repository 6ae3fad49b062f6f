package graft

/** Dev-only smoke: read every table, print schema + count. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Engine.session("graft-smoke")
    val t = Engine.Tables(spark, args.headOption.getOrElse("/root/testdata/sf0.001"))
    Seq(
      "region" -> t.region, "nation" -> t.nation, "customer" -> t.customer,
      "supplier" -> t.supplier, "part" -> t.part, "orders" -> t.orders,
      "lineitem" -> t.lineitem, "events" -> t.events,
      "documents" -> t.documents, "embeddings" -> t.embeddings
    ).foreach { case (n, df) =>
      println(s"== $n count=${df.count()} schema=${df.schema.simpleString}")
    }
    spark.stop()
  }
}
