package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.engine.{GraftDriver, PartitionSelector, Validator}

/**
 * `stream_pipeline`: writes beside reads. An open-loop generator produces
 * fixed-size batches (512 random payload bytes per event) into topic `in`
 * — EventBridge validator, metadata-hash partition selector — on a fixed
 * schedule. One continuous query reads `in` with
 * `readStream.format("graft")`, keeps `level < 5` (exactly half), projects
 * metadata and payload, and writes to `out` with
 * `writeStream.format("graft")`, the exactly-once sink. Latency runs from a
 * batch's due time to the commit of the first trigger whose end offset
 * covers every id range its produce returned; generator lateness is
 * reported. The rate leaves margin: the source lag returns to 0 between
 * batches.
 */
object StreamPipeline {
  val Partitions = 4
  val PayloadBytes = 512
  val Pattern = """{"src": ["gen"], "level": [{"numeric": [">=", 0, "<", 10]}]}"""

  final class Pipeline(ctx: Ctx, val wh: String) {
    val driver = new GraftDriver(ctx.spark, wh)
    driver.createTopic("in", Partitions, Validator.EventBridgeValidator(Pattern),
      PartitionSelector.MetadataHash("$.key"))
    driver.createTopic("out", Partitions)
    val in = driver.openTopic("in")
    val out = driver.openTopic("out")
    val producer = in.producer()
    val query: StreamingQuery = ctx.spark.readStream.format("graft")
      .option("warehouse", wh).option("topic", "in").load()
      .filter(get_json_object(col("metadata"), "$.level").cast("int") < 5)
      .select(col("metadata"), col("data"))
      .writeStream.format("graft")
      .option("warehouse", wh).option("topic", "out")
      .option("checkpointLocation", s"$wh/_checkpoint")
      .trigger(Trigger.ProcessingTime(StreamPipeline.TriggerMs))
      .start()

    /** Blocks until the query has committed a trigger. */
    def awaitFirstTrigger(timeoutMs: Long): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (query.lastProgress == null && System.currentTimeMillis() < deadline)
        Thread.sleep(5)
      require(query.lastProgress != null, "stream did not start")
    }

    def stop(): Unit = { query.stop(); query.awaitTermination(30000): Unit }
  }

  val TriggerMs = 200L
  /** Name prefix of the thread that runs a streaming query's micro-batches. */
  val StreamThread = "stream execution thread"

  def run(ctx: Ctx): Unit = {
    import ctx.spark
    val batch = if (ctx.smoke) 500 else 5000
    val periodMs = 2500L
    def frame(from: Long) = Gen.localFrame(spark,
      (from until from + batch).map(Gen.streamEvent(ctx.seed, _, PayloadBytes)))

    // untimed warm-up: a throwaway pipeline carries one batch end to end
    val progress = new ProgressLog(spark)
    val warm = new Pipeline(ctx, ctx.dir("warmup"))
    warm.awaitFirstTrigger(60000)
    warm.producer.produce(frame(0))
    awaitCaughtUp(warm, batch.toLong, 60000)
    warm.stop()

    // set-up, several times: topics plus a started query that has triggered
    val pipe = ctx.setups(3) { k =>
      val p = new Pipeline(ctx, ctx.dir(s"wh$k"))
      p.awaitFirstTrigger(60000)
      if (k < 2) p.stop()
      p
    }

    // open loop: batch k is due at start + k * period; a round lasts until
    // the next batch is due, so a traced round also covers the triggers
    // that carry its batch to the sink
    val sent = mutable.ArrayBuffer.empty[Batch]
    val next = mutable.Map((0 until Partitions).map(_ -> 0L): _*)
    var dense = true
    val streamOps0 = FsOps.ofThreads(StreamThread)
    val t0 = System.nanoTime()
    val start = Clock.nowNs + 100000000L
    def due(k: Int) = start + k * periodMs * 1000000L
    def sleepUntil(ns: Long) = {
      val ms = (ns - Clock.nowNs) / 1000000L
      if (ms > 0) Thread.sleep(ms)
    }
    sleepUntil(due(0))
    while (ctx.running(t0, sent.size, minRounds = if (ctx.trace) 6 else 3)) {
      val k = sent.size
      val df = frame(k.toLong * batch)
      sleepUntil(due(k))
      val began = Clock.nowNs
      val ((ranges, ackMs), traced) = ctx.round { _ =>
        val r = ctx.timedMs(ctx.attempt(
          ctx.tracer.spanWith("producer.produce", "in")(pipe.producer.produce(df))(
            _ => Map("events" -> batch.toDouble))))
        sleepUntil(due(k + 1) - 20000000L) // leave the next batch's frame time to build
        r
      }
      dense &&= ranges.values.map(_._2).sum == batch
      ranges.foreach { case (p, (first, n)) =>
        dense &&= first == next(p)
        next(p) = first + n
      }
      sent += Batch(due(k), began, ackMs, next.toMap, traced)
    }
    val produced = sent.size.toLong * batch
    awaitCaughtUp(pipe, produced, 60000)
    val streamOps = FsOps.ofThreads(StreamThread) - streamOps0
    pipe.stop()
    val ps = progress.of(pipe.query.id)
    progress.close()
    if (ctx.trace) Progress.addTriggerSpans(ctx.tracer, "pipeline", ps)

    // correctness: dense ids into `in`; `out` holds exactly the kept events
    ctx.check("stream: per-partition id ranges of `in` dense and contiguous", dense)
    ctx.check("stream: `in` snapshot equals produced ranges", pipe.in.snapshot() == next.toMap,
      s"${pipe.in.snapshot()} vs $next")
    val kept = pipe.in.events().filter(get_json_object(col("metadata"), "$.level").cast("int") < 5)
    val outDf = pipe.out.events()
    val want = Gen.digest(kept)
    val got = Gen.digest(outDf)
    ctx.check("stream: `out` holds exactly the filtered events of `in` (count, bytes, checksum)",
      got == want, s"out $got, filtered in $want")
    ctx.check("stream: filter keeps exactly half", want._1 * 2 == produced,
      s"${want._1} of $produced")
    val distinct = outDf.select(get_json_object(col("metadata"), "$.seq")).distinct().count()
    ctx.check("stream: no duplicates in `out`", distinct == got._1, s"$distinct distinct of ${got._1}")
    val generated = (0 until sent.size).map(k => frame(k.toLong * batch)).reduce(_.union(_))
    val genDigest = Gen.digest(generated)
    val stored = pipe.in.events()
    ctx.check("stream: `in` matches the generator",
      Gen.digest(stored) == genDigest)
    val userBytes = Seq(generated, kept).map(_.selectExpr(
      "sum(octet_length(metadata)) + sum(octet_length(data))").head().getLong(0)).sum

    report(ctx, sent.toSeq, ps, produced, streamOps, pipe.wh, periodMs, userBytes)
  }

  final case class Batch(dueNs: Long, startNs: Long, ackMs: Double, ends: Map[Int, Long],
                         traced: Boolean) {
    def committedNs: Long = startNs + (ackMs * 1e6).toLong
  }

  private def awaitCaughtUp(p: Pipeline, events: Long, timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def caught = Option(p.query.lastProgress)
      .exists(pr => pr.sources.nonEmpty && Progress.endOffset(pr).values.sum >= events)
    while (!caught && System.currentTimeMillis() < deadline) Thread.sleep(10)
    require(caught, s"stream did not catch up with $events events")
  }

  private def report(ctx: Ctx, sent: Seq[Batch],
                     ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
                     produced: Long, streamOps: Long, wh: String, periodMs: Long,
                     userBytes: Long): Unit = {
    // latency: due time -> commit of the first trigger covering the batch
    val done = ps.filter(_.sources.nonEmpty).map(p => (Progress.endOffset(p), Progress.doneNs(p)))
    def covers(end: Map[Int, Long], b: Batch) =
      b.ends.forall { case (p, e) => end.getOrElse(p, 0L) >= e }
    val latency = sent.map { b =>
      val covering = done.find { case (end, _) => covers(end, b) }
      (covering.map { case (_, t) => (t - b.dueNs) / 1e6 }.getOrElse(Double.NaN), b.traced)
    }
    ctx.check("stream: every batch reached the sink", latency.forall(!_._1.isNaN))
    // source lag back to 0 between batches: a trigger that read all of
    // batch k started before batch k+1 was committed into `in`
    val started = ps.filter(_.sources.nonEmpty).map(p => (Progress.endOffset(p), Progress.startNs(p)))
    val behind = sent.zip(sent.drop(1)).count { case (b, nextB) =>
      !started.exists { case (end, t) => covers(end, b) && t <= nextB.committedNs }
    }
    ctx.check("stream: source lag returns to 0 between batches", behind == 0,
      s"$behind batches not yet read when the next one was committed")
    // stricter: batch k already committed to `out` when batch k+1 is due
    val inFlight = sent.zip(sent.drop(1)).count { case (b, nextB) =>
      !done.exists { case (end, t) => covers(end, b) && t <= nextB.dueNs }
    }
    ctx.note(s"stream: $inFlight of ${sent.size - 1} batches still in flight when the next was due")
    val bare = latency.filterNot(_._2).map(_._1)
    val late = sent.map(b => (b.startNs - b.dueNs) / 1e6)
    val sinkRate = Progress.rowsPerTriggerSecond(ps)
    ctx.endToEnd("latency_ms", Stats.median(bare), "ms")
    ctx.endToEnd("throughput_per_s", sinkRate, "1/s")
    ctx.reportOnly("rss_peak_mb", ctx.rssPeakMb, "MB")
    ctx.reportOnly("e2e_latency_ms_p50", Stats.median(bare), "ms")
    ctx.reportTail("e2e_latency_ms_tail", bare, "ms")
    ctx.reportOnly("ack_ms_p50", Stats.median(sent.filterNot(_.traced).map(_.ackMs)), "ms")
    ctx.reportTail("ack_ms_tail", sent.filterNot(_.traced).map(_.ackMs), "ms")
    ctx.reportOnly("generator_late_ms_max", late.max, "ms")
    ctx.reportOnly("generator_late_ms_p50", Stats.median(late), "ms")
    val stored = (ctx.duBytes(s"$wh/in") + ctx.duBytes(s"$wh/out")).toDouble / userBytes
    ctx.reportOnly("stored_bytes_per_user_byte", stored, "ratio")
    ctx.reportOnly("ops_failed_ratio", ctx.failed.toDouble / ctx.attempted, "ratio")
    ctx.note(f"stream: ${sent.size} batches of ${produced / sent.size} events every $periodMs ms, " +
      f"${Progress.dataTriggers(ps).size} data triggers")
    if (ctx.trace) {
      val traced = latency.filter(_._2).map(_._1)
      // lag at each progress event: events acknowledged into `in` by then,
      // minus the stream's end offset
      val perBatch = produced / sent.size
      val lag = ps.filter(_.sources.nonEmpty).map { p =>
        val acked = sent.count(_.committedNs <= Progress.doneNs(p))
        math.max(0L, acked * perBatch - Progress.endOffset(p).values.sum).toDouble
      }
      Layers.report(ctx, Progress.layerMetrics(ps, lag) ++ Map(
        "events_produced" -> sent.count(_.traced) * perBatch * 1.5,
        "catalog.fs_ops_per_trigger" ->
          streamOps.toDouble / math.max(1, Progress.dataTriggers(ps).size),
        "catalog.files_per_partition" -> ctx.dataFiles(s"$wh/in").toDouble / Partitions,
        "catalog.bytes_written_per_user_byte" -> stored,
        "trace.overhead_pct" -> Stats.overheadPct(traced, bare)))
    }
  }
}
