package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.graft.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** What Spark ran for one block of code: the jobs it launched and the
  * input records its tasks read. */
final case class SparkEvents(jobs: Int, recordsRead: Long)

object SparkEvents {

  /** Runs `body` on the calling thread under a fresh job group and counts
    * only that group's jobs (and the tasks of their stages), so work from
    * other threads does not leak into the count. */
  def during[T](spark: SparkSession)(body: => T): (T, SparkEvents) = {
    val sc = spark.sparkContext
    val group = s"graft-spark-events-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger(0)
    val records = new AtomicLong(0L)
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) {
          jobs.incrementAndGet()
          e.stageIds.foreach(stages.add)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted block")
    try {
      val out = body
      ListenerBusAccess.drain(sc)
      (out, SparkEvents(jobs.get(), records.get()))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
