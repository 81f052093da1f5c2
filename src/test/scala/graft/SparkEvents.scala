package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** What a block of code runs in Spark, seen through listeners. Listener
  * buses deliver asynchronously but in order, so each helper ends with a
  * marker action and waits until its listener has seen the marker: every
  * event of the block has then been delivered. */
object SparkEvents {

  private def awaitMarker(seen: => Boolean): Unit = {
    val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
    while (!seen) {
      require(System.nanoTime < deadline, "the listener never saw the marker")
      Thread.sleep(10)
    }
  }

  /** `body`'s result and the QueryExecution of every successful action
    * it ran. */
  def executions[A](spark: SparkSession)(body: => A)
      : (A, Seq[QueryExecution]) = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val result = body
      val marker = spark.range(1)
      marker.collect()
      awaitMarker(seen.asScala.exists(_ eq marker.queryExecution))
      (result, seen.asScala.toSeq.filterNot(_ eq marker.queryExecution))
    } finally spark.listenerManager.unregister(listener)
  }

  /** The QueryExecution of every successful file write `body` ran. */
  def writePlans(spark: SparkSession)(body: => Unit): Seq[QueryExecution] =
    executions(spark)(body)._2.filter(_.optimizedPlan.exists {
      case _: DataWritingCommand => true
      case _ => false
    })

  /** The number of Spark jobs `body` started. */
  def jobsDuring(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val marker = s"jobs-marker-${System.nanoTime}"
    val groups = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = groups.add(
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      awaitMarker(groups.contains(marker))
    } finally sc.removeSparkListener(listener)
    groups.asScala.takeWhile(_ != marker).size
  }
}
