package perfbench

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.engine.{DataSelector, GraftDriver, Pull, TopicHandle}
import graft.functions.DataView

/**
 * `consume_selective`: the read path alone. Set-up ingests 300k events
 * (256 random payload bytes, `sel` uniform over [0, 1000)) into a
 * 4-partition topic in two 150k-event produce calls; the timed phase never
 * produces. Each round runs, in the mofka consumer-benchmark shape:
 *  - three selective `consumer(...).events()` reads: selectivity 0.5 on
 *    `sel`, data proportion 0.8 through a `DataView` sub-view;
 *  - one metadata-only read and one unselective read;
 *  - an `AvailableNow` drain through `readStream.format("graft")` with
 *    `maxEventsPerTrigger`;
 *  - a 2,048-event `pull()` walk acknowledging every 100th event;
 *  - `readManifest`, `snapshot` and `cursor` calls into the catalog.
 * Every read is checked against digests computed from the generator.
 */
object ConsumeSelective {
  val Partitions = 4
  val PayloadBytes = 256
  val ViewOffset = 25
  val ViewBytes = 205 // 0.8 of the payload
  val SelectiveReads = 3
  val Topic = "consume"

  private val selector = DataSelector(
    md => get_json_object(md, "$.sel").cast("int") < 500,
    DataView.Sub(DataView.Full, ViewOffset, ViewBytes))

  type Digest = (Long, Long, Long)

  def run(ctx: Ctx): Unit = {
    import ctx.spark
    val events = if (ctx.smoke) 20000L else 300000L
    val batches = 2
    val pullEvents = if (ctx.smoke) 300 else 2048
    val maxPerTrigger = events / 5
    val wh = ctx.dir("warehouse")

    // set-up (untimed): ingest in large batches, then the expected digests
    val driver = new GraftDriver(spark, wh)
    driver.createTopic(Topic, Partitions)
    val (_, ingestMs) = ctx.timedMs {
      val p = driver.openTopic(Topic).producer()
      (0 until batches).foreach { b =>
        p.produce(Gen.consumeFrame(spark, ctx.seed, b * events / batches,
          (b + 1) * events / batches, PayloadBytes, Partitions).select("metadata", "data"))
      }
    }
    val gen = Gen.consumeFrame(spark, ctx.seed, 0, events, PayloadBytes, Partitions)
    val empty = lit(Array.empty[Byte])
    val picked = col("sel") < 500
    val (e, expectMs) = ctx.timedMs(gen.agg(
      sum(when(picked, 1L).otherwise(0L)),
      sum(when(picked, ViewBytes.toLong).otherwise(0L)),
      bit_xor(xxhash64(col("metadata"),
        when(picked, substring(col("data"), ViewOffset + 1, ViewBytes)).otherwise(empty))),
      sum(length(col("data")).cast("long")),
      bit_xor(xxhash64(col("metadata"), col("data"))),
      bit_xor(xxhash64(col("metadata"), empty))).head())
    val expectSelective: Digest = (events, e.getLong(1), e.getLong(2))
    val expectAll: Digest = (events, e.getLong(3), e.getLong(4))
    val expectMeta: Digest = (events, 0L, e.getLong(5))
    ctx.check("consume: selectivity is exactly 0.5", e.getLong(0) * 2 == events,
      s"${e.getLong(0)} of $events selected")

    // opening a consumer on the populated topic, planned but not run
    val topic = ctx.setups(9) { k =>
      val t = new GraftDriver(spark, wh).openTopic(Topic)
      t.consumer(s"setup-$k", Some(selector)).events().queryExecution.executedPlan
      t
    }
    ctx.check("consume: snapshot total equals events ingested",
      topic.snapshot().values.sum == events, s"${topic.snapshot()}")

    val run = new Ops(ctx, driver, topic, events, maxPerTrigger,
      expectSelective, expectAll, expectMeta)
    // untimed warm-up: every operation once, then more selective reads
    // (their latency keeps falling for several reads after the first)
    val warmOps = Sequence.distinct ++ Seq.fill(if (ctx.smoke) 0 else 4)("selective")
    val (_, warmMs) = ctx.timedMs(warmOps.zipWithIndex.foreach { case (op, i) =>
      run(op, -1 - i, pullEvents = 200, traced = false) })
    ctx.note(f"consume: set-up ingest ${ingestMs / 1000}%.2f s, generator digests " +
      f"${expectMs / 1000}%.2f s, warm-up ${warmMs / 1000}%.2f s")

    val samples = mutable.ArrayBuffer.empty[(String, Double, Boolean)]
    val t0 = System.nanoTime()
    while (ctx.running(t0, samples.size, Sequence.size * (if (ctx.trace) 2 else 1))) {
      val op = Sequence(samples.size % Sequence.size)
      val (ms, traced) = ctx.round(run(op, samples.size, pullEvents, _))
      samples += ((op, ms, traced))
    }
    report(ctx, samples.toSeq, run.layer.toSeq, events, pullEvents, s"$wh/$Topic")
  }

  /** One pass; odd length, so traced runs alternate which ops are traced. */
  val Sequence: Seq[String] = Seq("selective", "selective", "metadata_only", "selective",
    "all", "selective", "drain", "pull", "catalog")

  /** The timed operations; each returns its duration in ms. */
  private final class Ops(ctx: Ctx, driver: GraftDriver, topic: TopicHandle, events: Long,
                          maxPerTrigger: Long, expectSelective: Digest, expectAll: Digest,
                          expectMeta: Digest) {
    private val t = ctx.tracer
    /** Streaming per-layer metrics of each traced drain. */
    val layer = mutable.ArrayBuffer.empty[Map[String, Double]]

    def apply(op: String, k: Int, pullEvents: Int, traced: Boolean): Double = op match {
      case "selective" => read(op, Some(selector), expectSelective, k)
      case "metadata_only" => read(op, Some(DataSelector.MetadataOnly), expectMeta, k)
      case "all" => read(op, None, expectAll, k)
      case "drain" =>
        val progress = new ProgressLog(ctx.spark)
        val ((got, id), ms) = try ctx.timedMs(ctx.attempt(drain(ctx, driver, maxPerTrigger, k)))
          finally progress.close()
        ctx.check(s"consume: AvailableNow drain delivers every event once",
          got == expectAll, s"got $got expected $expectAll")
        val ps = progress.of(id)
        if (traced) {
          Progress.addTriggerSpans(t, "drain", ps)
          layer += Progress.layerMetrics(ps,
            ps.map(p => (events - Progress.endOffset(p).values.sum).toDouble))
        }
        ms
      case "pull" => ctx.timedMs(ctx.attempt(pullWalk(ctx, driver, topic, pullEvents, k)))._2
      case "catalog" => ctx.timedMs((0 until 5).foreach { _ =>
        t.span("catalog.readManifest")(driver.catalog.readManifest(Topic))
        t.span("catalog.snapshot")(topic.snapshot())
        t.span("catalog.cursor")(driver.catalog.cursor(Topic, "pull-0"))
      })._2
    }

    private def read(kind: String, sel: Option[DataSelector], expect: Digest, k: Int): Double = {
      val df = t.span("consumer.plan", kind) {
        val df = topic.consumer(s"reader-$kind", sel).events()
        df.queryExecution.executedPlan
        df
      }
      val (got, ms) = ctx.timedMs(ctx.attempt(
        t.spanWith(s"consumer.read.$kind")(Gen.digest(df))(
          _ => Map("events" -> events.toDouble))))
      ctx.check(s"consume: $kind read matches the generator", got == expect,
        s"got $got expected $expect")
      ms
    }
  }

  /** AvailableNow drain of the whole topic; returns its digest and query id. */
  private def drain(ctx: Ctx, driver: GraftDriver, maxPerTrigger: Long, k: Int)
      : (Digest, java.util.UUID) = {
    val acc = mutable.ArrayBuffer.empty[Digest]
    val q = ctx.spark.readStream.format("graft")
      .option("warehouse", driver.warehouse).option("topic", Topic)
      .option("maxEventsPerTrigger", maxPerTrigger.toString)
      .load()
      .writeStream
      .foreachBatch { (b: Dataset[Row], _: Long) =>
        val d = Gen.digest(b)
        acc.synchronized { acc += d }: Unit
      }
      .option("checkpointLocation", Files.createTempDirectory(ctx.tmp, s"drain$k").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val d = acc.synchronized(acc.toList)
    ((d.map(_._1).sum, d.map(_._2).sum, d.map(_._3).foldLeft(0L)(_ ^ _)), q.id)
  }

  /** Pulls `n` events with a fresh consumer, acknowledging every 100th;
    * checks the walk is gap-free and the cursor lands after the last ack. */
  private def pullWalk(ctx: Ctx, driver: GraftDriver, topic: TopicHandle, n: Int,
                       k: Int): Int = {
    val name = s"pull-$k"
    val c = topic.consumer(name, None, batchSize = Some(1024))
    var prev: Option[(Int, Long)] = None
    var gapFree = true
    var lastAck: Option[(Int, Long)] = None
    (0 until n).foreach { i =>
      ctx.tracer.span("consumer.pull")(c.pull()) match {
        case Pull.Next(e) =>
          gapFree &&= (prev match {
            case Some((p, id)) => (e.partition == p && e.eventId == id + 1) ||
              (e.partition > p && e.eventId == 0L)
            case None => e.eventId == 0L
          })
          prev = Some((e.partition, e.eventId))
          if (i % 100 == 99) {
            ctx.tracer.span("catalog.acknowledge")(c.acknowledge(e))
            lastAck = Some((e.partition, e.eventId))
          }
        case other => gapFree = false; ctx.check(s"consume: pull returned an event", ok = false, s"$other")
      }
    }
    ctx.check(s"consume: pull walk is gap-free in (partition, id) order", gapFree)
    val cursor = driver.catalog.cursor(Topic, name)
    val got = lastAck.map { case (p, _) => (p, cursor.getOrElse(p, 0L)) }
    ctx.check(s"consume: cursor sits after the last acknowledged event",
      got == lastAck.map { case (p, id) => (p, id + 1) }, s"cursor $cursor, last ack $lastAck")
    n
  }

  private def report(ctx: Ctx, samples: Seq[(String, Double, Boolean)],
                     layer: Seq[Map[String, Double]], events: Long, pullEvents: Int,
                     topicDir: String): Unit = {
    def ms(op: String, traced: Boolean) = samples.collect { case (`op`, v, `traced`) => v }
    val sel = ms("selective", traced = false)
    val selS = Stats.median(sel) / 1000.0
    ctx.endToEnd("latency_ms", selS * 1000.0, "ms")
    ctx.endToEnd("throughput_per_s", events / selS, "1/s")
    ctx.reportOnly("rss_peak_mb", ctx.rssPeakMb, "MB")
    ctx.reportOnly("consume_events_per_s", events / selS, "1/s")
    ctx.reportOnly("consume_mb_per_s", events / 2.0 * ViewBytes / 1e6 / selS, "MB/s")
    ctx.reportTail("consume_read_ms_tail", sel, "ms")
    ctx.reportOnly("drain_events_per_s",
      events / (Stats.median(ms("drain", traced = false)) / 1000.0), "1/s")
    ctx.reportOnly("pull_events_per_s",
      pullEvents / (Stats.median(ms("pull", traced = false)) / 1000.0), "1/s")
    ctx.reportOnly("ops_failed_ratio", ctx.failed.toDouble / ctx.attempted, "ratio")
    ctx.note(s"consume: ${samples.size} timed operations over $events events; " +
      "selective read ms: " + sel.map(v => f"$v%.0f").mkString(" "))
    if (ctx.trace) {
      val streaming = layer.flatMap(_.toSeq).groupBy(_._1).map { case (k, vs) =>
        k -> Stats.median(vs.map(_._2)) }
      Layers.report(ctx, streaming ++ Map(
        "consumer.bytes_delivered_ratio" -> ViewBytes / 2.0 / PayloadBytes,
        "catalog.files_per_partition" -> ctx.dataFiles(topicDir).toDouble / Partitions,
        "trace.overhead_pct" -> Stats.overheadPct(ms("selective", traced = true), sel)))
    }
  }
}
