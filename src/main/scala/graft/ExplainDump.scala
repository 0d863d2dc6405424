package graft

/** Prints formatted physical plans for the named queries, or for every
  * query in [[Queries.all]] in name order — the plan-review loop
  * (pushdown, codegen spans, join strategies).
  * Usage: runMain graft.ExplainDump [sfDir] [query ...] */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Queries.all.keys.toSeq.sorted
    val spark = GraftSession()
    names.foreach { n =>
      println(s"\n================ $n ================")
      Queries.all(n).execute(spark, dir)(_.explain("formatted"))
    }
    spark.stop()
  }
}
