package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The number of Spark jobs a block submits: the block runs under a
  * fresh job group and a listener counts the job starts in that group
  * only, so jobs of other threads never leak into the count. */
object JobCount {
  def apply[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"job-count-${java.util.UUID.randomUUID}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val out = body
      ListenerBusDrain(sc)
      (out, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
