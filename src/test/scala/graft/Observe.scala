package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually
import org.scalatest.time.SpanSugar._

/** What an action runs on the suite's session: the query executions it
  * completes and the jobs it starts (any job, schema inference too, as
  * long as it runs on the calling thread). */
trait Observe extends Eventually { this: SparkSpec =>

  /** Runs `action` and returns the query executions it ran and the
    * number of jobs they started. `action` must end with at least one
    * query execution, which is how the count knows it is complete. */
  def observe(action: => Any): (Seq[QueryExecution], Int) = {
    val sc = spark.sparkContext
    val group = s"observe-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val qes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    val qeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = qes.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = qes.add(qe)
    }
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    sc.setJobGroup(group, group)
    try {
      action
      // both listeners sit on the shared event queue, so once the
      // action's end has arrived its job starts have too
      eventually(timeout(30.seconds))(assert(!qes.isEmpty))
    } finally {
      sc.clearJobGroup()
      spark.listenerManager.unregister(qeListener)
      sc.removeSparkListener(jobListener)
    }
    (scala.jdk.CollectionConverters.CollectionHasAsScala(qes).asScala.toSeq, jobs.get)
  }
}
