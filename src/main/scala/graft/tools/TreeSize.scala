package graft.tools

/** Dev tool: print logical-tree node counts for the memoized kind
  * frames and selected queries — the driver-side cost driver (every
  * Dataset transformation re-runs checkAnalysis over the whole tree,
  * so tree size × transformation count = cold planning time). */
object TreeSize {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Session.contract()
    spark.sparkContext.setLogLevel("ERROR")
    def sz(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val plan = df.queryExecution.analyzed
      val nodes = plan.collect { case p => p }.size
      val exprs = plan.collect { case p => p.expressions.map(_.collect { case e => e }.size).sum }.sum
      println(f"[tree] $name%-24s plan-nodes=$nodes%6d expr-nodes=$exprs%8d")
    }
    import graft.tsdb.TsQueries
    sz("rawDaily", TsQueries.rawDaily(spark, sfDir))
    sz("meta", TsQueries.meta(spark, sfDir))
    sz("qcAll", TsQueries.qcAll(spark, sfDir))
    sz("filledSeries", TsQueries.filledSeries(spark, sfDir))
    args.foreach(q => sz(q, graft.SparkEntry.queries(q)(spark, sfDir)))
    spark.stop()
  }
}
