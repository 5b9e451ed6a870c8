package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.graftbridge.ListenerBus
import org.apache.spark.sql.util.QueryExecutionListener

/** What the session executed: every query execution a
  * `QueryExecutionListener` reports while a block runs, the jobs it
  * started, and the operators of an executed plan. */
object Executions {

  /** Runs `body` and returns its value with the executions it caused, in
    * the order the listener saw them (failed ones included). */
  def during[A](spark: SparkSession)(body: => A): (A, Seq[QueryExecution]) = {
    val (r, seen, _) = withJobs(spark)(body)
    (r, seen)
  }

  /** [[during]], plus the number of Spark jobs the block started (a
    * `SparkListener` over the same block). */
  def withJobs[A](spark: SparkSession)(body: => A): (A, Seq[QueryExecution], Int) = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen.add(qe)
    }
    val jobs = new AtomicInteger()
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    ListenerBus.drain(spark)
    spark.listenerManager.register(listener)
    spark.sparkContext.addSparkListener(jobListener)
    try {
      val r = body
      ListenerBus.drain(spark)
      (r, seen.asScala.toSeq, jobs.get)
    } finally {
      spark.sparkContext.removeSparkListener(jobListener)
      spark.listenerManager.unregister(listener)
    }
  }

  /** Every operator of a plan, through AQE's final plan and its query
    * stages (`collect` stops at a stage boundary). Cached relations are
    * leaves: what a cache holds is not part of the plan that reads it. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case o => o.children.flatMap(nodes)
  })
}
