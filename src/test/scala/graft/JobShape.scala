package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.GraftTestBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The Spark jobs a block submits, counted by a listener that sees
  * only the block's own job group — so a concurrent or earlier job of
  * another test never lands in the count. */
object JobShape {

  /** Jobs submitted, and the shuffle bytes and records their tasks wrote. */
  final case class Shape(jobs: Int, shuffleBytes: Long, shuffleRecords: Long)

  def of[T](spark: SparkSession, group: String)(body: => T): (T, Shape) = {
    val sc = spark.sparkContext
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val jobs = new AtomicInteger()
    val bytes = new AtomicLong()
    val records = new AtomicLong()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            js.properties.getProperty("spark.jobGroup.id") == group) {
          jobs.incrementAndGet()
          js.stageIds.foreach(stages.add(_))
        }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (stages.contains(te.stageId) && te.taskMetrics != null) {
          bytes.addAndGet(te.taskMetrics.shuffleWriteMetrics.bytesWritten)
          records.addAndGet(te.taskMetrics.shuffleWriteMetrics.recordsWritten)
        }
    }
    // listener delivery is async: drain before and after so the count
    // neither misses the block's events nor sees earlier ones
    GraftTestBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    val out = try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
    } finally {
      GraftTestBridge.drainListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    (out, Shape(jobs.get, bytes.get, records.get))
  }
}
