package graft

/** Dev tool: print the formatted physical plan of selected queries. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.core.Session.contract()
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach { name =>
      println(s"========== $name ==========")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
