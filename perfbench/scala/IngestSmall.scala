package perfbench

import scala.collection.mutable

import graft.engine.GraftDriver

/**
 * `ingest_small`: a closed loop of one producer issuing `produce()` calls
 * of 1,000 events (≈100 B of 4-field JSON metadata, 128 random payload
 * bytes) into a 4-partition topic with the default validator and the
 * round-robin selector. The per-call fixed cost dominates each call, so
 * this is where commit-path and planning work shows. Ack latency runs from
 * the `produce()` call to its returned id ranges.
 */
object IngestSmall {
  val Partitions = 4
  val PayloadBytes = 128
  val WarmupCalls = 20

  def run(ctx: Ctx): Unit = {
    import ctx.spark
    val batch = if (ctx.smoke) 100 else 1000
    def frame(from: Long, seed: Long) = Gen.localFrame(spark,
      (from until from + batch).map(Gen.smallEvent(seed, _, PayloadBytes)))

    // untimed warm-up: the first produce in a JVM pays class loading and
    // JIT, and ack latency keeps falling for ten to twenty more calls
    val warm = new GraftDriver(spark, ctx.dir("warmup"))
    warm.createTopic("warm", Partitions)
    val wp = warm.openTopic("warm").producer()
    (0 until (if (ctx.smoke) 1 else WarmupCalls)).foreach(k => wp.produce(frame(k.toLong * batch, ~ctx.seed)))

    val (topicDir, topic, producer) = ctx.setups(9) { k =>
      val wh = ctx.dir(s"wh$k")
      val d = new GraftDriver(spark, wh)
      d.createTopic("ingest", Partitions)
      val t = d.openTopic("ingest")
      (s"$wh/ingest", t, t.producer())
    }

    val acks = mutable.ArrayBuffer.empty[(Double, Boolean)]
    val next = mutable.Map((0 until Partitions).map(_ -> 0L): _*)
    var seq = 0L
    var dense = true
    val t0 = System.nanoTime()
    while (ctx.running(t0, acks.size, minRounds = if (ctx.trace) 4 else 1)) {
      val df = frame(seq, ctx.seed)
      val ((r, ms), traced) = ctx.round { _ =>
        ctx.timedMs(ctx.attempt(
          ctx.tracer.spanWith("producer.produce", "ingest")(producer.produce(df))(
            _ => Map("events" -> batch.toDouble))))
      }
      acks += ((ms, traced))
      dense &&= r.values.map(_._2).sum == batch
      r.foreach { case (p, (first, n)) =>
        dense &&= first == next(p)
        next(p) = first + n
      }
      seq += batch
    }
    val wall = ctx.since(t0)

    // correctness: dense contiguous ranges, snapshot, and the stored events
    // against the generator's digest of what was produced
    ctx.check("ingest: per-partition id ranges dense and contiguous", dense)
    val snap = topic.snapshot()
    ctx.check("ingest: snapshot equals produced ranges", snap == next.toMap,
      s"snapshot=$snap expected=$next")
    ctx.check("ingest: snapshot total equals events produced", snap.values.sum == seq,
      s"${snap.values.sum} != $seq")
    val generated = (0L until seq by batch).map(frame(_, ctx.seed)).reduce(_.union(_))
    val expect = Gen.digest(generated)
    val stored = topic.events()
    val got = Gen.digest(stored)
    ctx.check("ingest: stored count, payload bytes and checksum match the generator",
      got == expect, s"stored=$got generated=$expect")
    val userBytes = expect._2 + generated.selectExpr("sum(octet_length(metadata))").head().getLong(0)

    report(ctx, acks.toSeq, seq, wall, topicDir, userBytes)
  }

  private def report(ctx: Ctx, acks: Seq[(Double, Boolean)], events: Long, wall: Double,
                     topicDir: String, userBytes: Long): Unit = {
    val bare = acks.filterNot(_._2).map(_._1)
    val stored = ctx.duBytes(topicDir).toDouble / userBytes
    ctx.endToEnd("latency_ms", Stats.median(bare), "ms")
    ctx.endToEnd("throughput_per_s", events / wall, "1/s")
    ctx.reportOnly("rss_peak_mb", ctx.rssPeakMb, "MB")
    ctx.reportOnly("ack_ms_p50", Stats.median(bare), "ms")
    ctx.reportTail("ack_ms_tail", bare, "ms")
    ctx.reportOnly("produce_events_per_s", events / wall, "1/s")
    ctx.reportOnly("stored_bytes_per_user_byte", stored, "ratio")
    ctx.reportOnly("ops_failed_ratio", ctx.failed.toDouble / ctx.attempted, "ratio")
    ctx.note(s"ingest: ${acks.size} produce calls of ${events / math.max(1, acks.size)} events; ack ms: " +
      acks.map(a => f"${a._1}%.0f").mkString(" "))
    if (ctx.trace) {
      val traced = acks.filter(_._2).map(_._1)
      Layers.report(ctx, Map(
        "events_produced" -> traced.size.toDouble * events / acks.size,
        "catalog.files_per_partition" -> ctx.dataFiles(topicDir).toDouble / Partitions,
        "catalog.bytes_written_per_user_byte" -> stored,
        "trace.overhead_pct" -> Stats.overheadPct(traced, bare)))
    }
  }
}
