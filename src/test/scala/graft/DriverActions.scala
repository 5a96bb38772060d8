package graft

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

object DriverActions {

  /** Driver actions while `build` runs: the distinct SQL executions (a job
    * outside any execution counts alone) of the jobs it starts. */
  def during(spark: SparkSession)(build: => Any): Int = {
    val sc = spark.sparkContext
    val actions = mutable.ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = actions.synchronized {
        actions += Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .getOrElse(s"job ${e.jobId}")
      }
    }
    sc.addSparkListener(listener)
    try build
    finally {
      ListenerBusDrain.drain(sc)
      sc.removeSparkListener(listener)
    }
    actions.distinct.size
  }
}
