package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs an action starts: `f` runs under a fresh job
  * group (Spark carries it to the broadcast and subquery threads too),
  * and the listener bus is drained before the count is read. */
object JobCount {
  def apply[T](spark: SparkSession)(f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobcount-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val out = try f finally sc.clearJobGroup()
      org.apache.spark.ListenerBusDrain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
