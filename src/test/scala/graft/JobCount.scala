package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.graftbridge.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block runs. Jobs are told apart by a job group
  * set on the calling thread, so jobs other threads start do not count. */
object JobCount {

  def of[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"job-count-${java.util.UUID.randomUUID}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null &&
          group == j.properties.getProperty("spark.jobGroup.id")) {
          jobs.incrementAndGet()
          ()
        }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count", interruptOnCancel = false)
    try {
      val out = body
      BusDrain.drain(sc)
      (out, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
