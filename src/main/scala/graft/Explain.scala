package graft

/** Plan-audit utility: prints the formatted physical plan of registered
  * queries (default: the Bench headline set) so shuffle counts, pushed
  * filters, and codegen spans can be reviewed per query. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names = if (args.nonEmpty) args.toSeq else Bench.headline
    val spark = LocalSession("4")
    names.foreach { n =>
      SparkEntry.queries.get(n).foreach { fn =>
        println(s"\n========== $n ==========")
        fn(spark, sfDir).explain("formatted")
      }
    }
    spark.stop()
  }
}
