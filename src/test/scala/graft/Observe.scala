package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually
import org.scalatest.time.SpanSugar._

/** What an action runs on the suite's session: the query executions it
  * completes and the jobs it starts (any job, schema inference too, as
  * long as it runs on the calling thread), and the persistent RDDs it
  * leaves behind. */
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

  /** The persistent RDDs `action` adds and leaves behind. The context
    * holds persistent RDDs weakly, so one a GC collects mid-call would
    * drop out of the count without being released: every persistent
    * RDD is pinned at each job start until the count is taken.
    * `action` must start a job while some RDD is persistent, which is
    * how the count knows the pins have arrived. */
  def leftPersistent(action: => Any): Set[Int] = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val pinned = java.util.concurrent.ConcurrentHashMap.newKeySet[AnyRef]()
    val pin = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        sc.getPersistentRDDs.values.foreach(pinned.add)
    }
    sc.addSparkListener(pin)
    try {
      action
      eventually(timeout(30.seconds))(assert(!pinned.isEmpty))
    } finally sc.removeSparkListener(pin)
    val left = sc.getPersistentRDDs.keySet.toSet -- before
    java.lang.ref.Reference.reachabilityFence(pinned)
    left
  }
}
