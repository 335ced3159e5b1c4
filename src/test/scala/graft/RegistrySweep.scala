package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan

/** Every registered query built once at sf0.001, shared by the specs
  * that sweep the whole registry: PlanGuardSpec checks each physical
  * plan, ContractSpec each row count. Many builders run jobs while
  * they build (persist + count, artifact writes), so one build per
  * test JVM instead of one per spec halves the sweep. Each query is
  * built, planned and counted in the same pass: no other test can
  * overwrite a builder's scratch artifacts between its build and its
  * count. */
object RegistrySweep {
  final case class Swept(name: String, plan: SparkPlan, rows: Long)

  private var memo: Option[Seq[Swept]] = None

  def apply(spark: SparkSession): Seq[Swept] = synchronized {
    memo.getOrElse {
      val swept = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val df = fn(spark, "/root/testdata/sf0.001")
        val plan = df.queryExecution.sparkPlan
        Swept(name, plan, df.count())
      }
      memo = Some(swept)
      swept
    }
  }
}
