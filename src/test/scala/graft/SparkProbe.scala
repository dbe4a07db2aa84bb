package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** What a block of code made Spark do: the jobs it started, the plans it
  * executed, and the caches the session holds. Listener events arrive
  * asynchronously, so each probe drains the listener bus before it reads. */
object SparkProbe extends AdaptiveSparkPlanHelper {

  private def drain(spark: SparkSession): Unit = {
    val bus = classOf[org.apache.spark.SparkContext].getMethod("listenerBus")
      .invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** `body`'s result and the number of Spark jobs it started. */
  def jobsDuring[T](spark: SparkSession)(body: => T): (T, Int) = {
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    drain(spark)
    spark.sparkContext.addSparkListener(l)
    try { val r = body; drain(spark); (r, jobs.get) }
    finally spark.sparkContext.removeSparkListener(l)
  }

  /** `body`'s result and the executed plans of the actions it ran. */
  def plansDuring[T](spark: SparkSession)(body: => T): (T, Seq[SparkPlan]) = {
    val plans = ArrayBuffer.empty[SparkPlan]
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized(plans += qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    drain(spark)
    spark.listenerManager.register(l)
    try { val r = body; drain(spark); (r, plans.synchronized(plans.toSeq)) }
    finally spark.listenerManager.unregister(l)
  }

  /** Every file scan in `plan`, adaptive stages included. */
  def fileScans(plan: SparkPlan): Seq[FileSourceScanExec] =
    collect(plan) { case s: FileSourceScanExec => s }

  /** (cached-plan entries, persisted RDD ids) the session holds. */
  def held(spark: SparkSession): (Seq[AnyRef], Set[Int]) = {
    val cm = spark.sharedState.cacheManager
    val f = cm.getClass.getDeclaredFields.find(_.getName.endsWith("cachedData")).get
    f.setAccessible(true)
    val plans = f.get(cm).asInstanceOf[scala.collection.Seq[AnyRef]].toSeq
    (plans, spark.sparkContext.getPersistentRDDs.keySet.toSet)
  }
}
