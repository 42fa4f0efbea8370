package graft.engine

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * The two ways a produce stages its input, for specs that cover both: a
 * driver-resident batch (a local relation, validated, placed and written on
 * the driver with no Spark job) and the same rows behind an RDD (staged and
 * written by Spark jobs).
 */
sealed abstract class ProduceInput(val label: String) {
  /** `df`'s rows as this kind of input. */
  def apply(df: DataFrame): DataFrame

  /** Runs `body` (a produce of this kind of input) and checks that it took
    * this input's path: no produce job for a driver-resident batch, at
    * least one for a distributed one. */
  def run[T](spark: SparkSession)(body: => T): T = {
    val (result, jobs) = ProduceInput.jobsRunBy(spark)(body)
    val ok = if (this == ProduceInput.Local) jobs == 0 else jobs > 0
    assert(ok, s"a produce of $label ran $jobs produce jobs")
    result
  }
}

object ProduceInput {
  /** A local relation: `toDF` / `createDataFrame` over driver-side rows. */
  case object Local extends ProduceInput("driver-resident input") {
    def apply(df: DataFrame): DataFrame = df
  }

  /** The same rows, in the same order, through a 3-slice RDD. */
  case object Distributed extends ProduceInput("distributed input") {
    def apply(df: DataFrame): DataFrame = {
      val spark = df.sparkSession
      spark.createDataFrame(spark.sparkContext.parallelize(df.collect().toSeq, 3), df.schema)
    }
  }

  val Both: Seq[ProduceInput] = Seq(Local, Distributed)

  /** `body`'s result and the number of produce jobs (those a producer
    * labels `graft produce …`) it started from this thread. A marker job
    * closes the count: listener events arrive in order, so once the
    * marker's start is seen, every earlier job's is. */
  def jobsRunBy[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"produce-input-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val jobs = new AtomicInteger
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("spark.jobGroup.id") == group).foreach { p =>
          val desc = String.valueOf(p.getProperty("spark.job.description"))
          if (desc == marker) markerSeen.countDown()
          else if (desc.startsWith("graft produce ")) jobs.incrementAndGet()
        }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "produce", interruptOnCancel = false)
    try {
      val result = body
      sc.setJobDescription(marker)
      sc.parallelize(Seq(1), 1).count()
      assert(markerSeen.await(60, TimeUnit.SECONDS), "the marker job was never seen")
      (result, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
