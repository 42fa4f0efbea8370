package graft

import java.util.UUID
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.Shims

/** Counts the Spark jobs that the constructing thread, and the threads it
  * starts, launch until [[close]]. They are told apart by a job tag, so jobs
  * of other threads (a streaming query started earlier) are not counted. Job
  * events reach listeners asynchronously; [[count]] first waits for the ones
  * already posted, so the difference of two counts is exactly the jobs
  * started between them. */
final class JobCounter(spark: SparkSession) extends SparkListener with AutoCloseable {
  private val sc = spark.sparkContext
  private val tag = s"graft-job-counter-${UUID.randomUUID()}"
  private val started = new AtomicLong
  sc.addSparkListener(this)
  sc.addJobTag(tag)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .exists(_.split(',').contains(tag)))
      started.incrementAndGet(): Unit

  def count: Long = {
    Shims.awaitListenerBus(sc)
    started.get
  }

  override def close(): Unit = {
    sc.removeJobTag(tag)
    sc.removeSparkListener(this)
  }
}
