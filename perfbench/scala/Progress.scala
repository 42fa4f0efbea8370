package perfbench

import java.util.UUID

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.streaming.TopicOffset

/** Collects the progress events of streaming queries — the operator's view
  * of each micro-batch (durations, rows, source offsets). */
final class ProgressLog(spark: SparkSession) extends StreamingQueryListener {
  private val events = mutable.ArrayBuffer.empty[StreamingQueryProgress]

  spark.streams.addListener(this)

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    synchronized { events += e.progress }: Unit
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  def of(id: UUID): Seq[StreamingQueryProgress] =
    synchronized(events.filter(_.id == id).toList).sortBy(_.batchId)

  def close(): Unit = spark.streams.removeListener(this)
}

object Progress {
  def endOffset(p: StreamingQueryProgress): Map[Int, Long] =
    TopicOffset.fromJson(p.sources.head.endOffset).next

  def durMs(p: StreamingQueryProgress, phase: String): Double =
    Option(p.durationMs.get(phase)).map(_.doubleValue).getOrElse(0.0)

  def startNs(p: StreamingQueryProgress): Long = {
    val t = java.time.Instant.parse(p.timestamp)
    t.getEpochSecond * 1000000000L + t.getNano
  }

  /** When the trigger's output was committed. */
  def doneNs(p: StreamingQueryProgress): Long =
    startNs(p) + (durMs(p, "triggerExecution") * 1e6).toLong

  /** Triggers that moved data. */
  def dataTriggers(ps: Seq[StreamingQueryProgress]): Seq[StreamingQueryProgress] =
    ps.filter(_.numInputRows > 0)

  /** Rows per second of trigger time over the triggers that moved data. */
  def rowsPerTriggerSecond(ps: Seq[StreamingQueryProgress]): Double = {
    val d = dataTriggers(ps)
    val secs = d.map(durMs(_, "triggerExecution")).sum / 1000.0
    if (secs > 0) d.map(_.numInputRows).sum / secs else 0.0
  }

  /** The `graft.streaming` per-layer metrics of a query's triggers. */
  def layerMetrics(ps: Seq[StreamingQueryProgress], lag: Seq[Double]): Map[String, Double] = {
    val d = dataTriggers(ps)
    def med(phase: String) = Stats.median(d.map(durMs(_, phase)))
    Map(
      "source.latestOffset_ms" -> med("latestOffset"),
      "source.getBatch_ms" -> med("getBatch"),
      "stream.queryPlanning_ms" -> med("queryPlanning"),
      "sink.addBatch_ms" -> med("addBatch"),
      "stream.walCommit_ms" -> med("walCommit"),
      "stream.commitOffsets_ms" -> med("commitOffsets"),
      "stream.triggerExecution_ms" -> med("triggerExecution"),
      "stream.triggers" -> d.size.toDouble,
      "stream.rows_per_trigger" -> Stats.mean(d.map(_.numInputRows.toDouble)),
      "source.lag_events" -> Stats.mean(lag))
  }

  /** Adds one `stream.trigger` span per progress event, so the streaming
    * jobs of each micro-batch hang under it in the trace. */
  def addTriggerSpans(tracer: Tracer, label: String, ps: Seq[StreamingQueryProgress]): Unit =
    ps.foreach { p =>
      val id = tracer.nextId()
      tracer.add(Span(id, "stream.trigger", label, startNs(p), doneNs(p), 0L, id,
        Map("batch_id" -> p.batchId.toDouble, "rows" -> p.numInputRows.toDouble) ++
          p.durationMs.asScala.map { case (k, v) => s"${k}_ms" -> v.doubleValue }))
    }
}
