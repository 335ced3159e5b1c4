package graft

import org.apache.spark.sql.execution.FormattedMode

/** Dev tool: print the formatted physical plan of selected queries,
  * [[masked]], so two checkouts' plans compare with a plain `diff`. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.core.Session.contract()
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach { name =>
      println(s"========== $name ==========")
      println(masked(
        SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(FormattedMode)))
    }
    spark.stop()
  }

  /** `plan` with its session counters — expression ids (`#123L`), plan
    * and RDD ids, JVM lambda names — replaced by `x`. */
  def masked(plan: String): String =
    plan.replaceAll("#\\d+L?", "#x").replaceAll("plan_id=\\d+", "plan_id=x")
      .replaceAll("RDD\\[\\d+]", "RDD[x]").replaceAll("Lambda\\$[\\w/$]+@\\w+", "Lambda\\$x")
}
