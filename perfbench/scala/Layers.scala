package perfbench

/**
 * Per-layer metrics of a traced run, derived from its spans. Every workload
 * reports the same list; a layer a workload's timed phase does not call
 * reads 0. `extra` carries the values measured outside spans (streaming
 * progress, on-disk layout, delivered bytes, tracing overhead).
 */
object Layers {
  /** (name, unit), in report order. */
  val Metrics: Seq[(String, String)] = Seq(
    "producer.call_ms" -> "ms",
    "producer.jobs_per_call" -> "count",
    "producer.tasks_per_call" -> "count",
    "producer.stage_job_ms" -> "ms",
    "producer.write_job_ms" -> "ms",
    "producer.driver_ms" -> "ms",
    "producer.shuffle_bytes_per_event" -> "bytes",
    "catalog.fs_ops_per_produce" -> "count",
    "catalog.fs_ops_per_trigger" -> "count",
    "catalog.readManifest_ms" -> "ms",
    "catalog.snapshot_ms" -> "ms",
    "catalog.cursor_ms" -> "ms",
    "catalog.acknowledge_ms" -> "ms",
    "catalog.files_per_partition" -> "count",
    "catalog.bytes_written_per_user_byte" -> "ratio",
    "consumer.plan_ms" -> "ms",
    "consumer.read_ms.selective" -> "ms",
    "consumer.read_ms.all" -> "ms",
    "consumer.read_ms.metadata_only" -> "ms",
    "consumer.input_bytes_per_event" -> "bytes",
    "consumer.bytes_delivered_ratio" -> "ratio",
    "consumer.pull_refresh_ms" -> "ms",
    "consumer.jobs_per_pull_refresh" -> "count",
    "source.latestOffset_ms" -> "ms",
    "source.getBatch_ms" -> "ms",
    "stream.queryPlanning_ms" -> "ms",
    "sink.addBatch_ms" -> "ms",
    "stream.walCommit_ms" -> "ms",
    "stream.commitOffsets_ms" -> "ms",
    "stream.triggerExecution_ms" -> "ms",
    "stream.triggers" -> "count",
    "stream.rows_per_trigger" -> "count",
    "sink.jobs_per_trigger" -> "count",
    "source.lag_events" -> "count",
    "spark.jobs" -> "count",
    "spark.tasks" -> "count",
    "spark.task_busy_s" -> "s",
    "spark.gc_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.input_bytes" -> "bytes",
    "spark.busy_share" -> "ratio",
    "trace.overhead_pct" -> "%") ++
    QueryReads.Queries.flatMap(q => Seq(s"query.$q.graded_s" -> "s", s"query.$q.jobs" -> "count"))

  def report(ctx: Ctx, extra: Map[String, Double]): Unit = {
    val spans = ctx.tracer.resolved
    val self = Spans.selfTimes(spans)
    val jobs = spans.filter(_.name == "spark.job")
    val jobsUnder = jobs.groupBy(_.parent)
    def kids(s: Span) = jobsUnder.getOrElse(s.id, Nil)
    def named(n: String) = spans.filter(_.name == n)
    def medMs(n: String) = Stats.median(named(n).map(_.durMs))
    val v = collection.mutable.Map.empty[String, Double]

    val produces = named("producer.produce")
    def perCall(f: Span => Double) = Stats.mean(produces.map(f))
    def jobMs(s: Span, tag: String*) =
      kids(s).filter(j => tag.exists(j.label.contains)).map(_.durMs).sum
    v("producer.call_ms") = medMs("producer.produce")
    v("producer.jobs_per_call") = perCall(kids(_).size.toDouble)
    v("producer.tasks_per_call") = perCall(kids(_).map(_.attr("tasks")).sum)
    v("producer.stage_job_ms") = perCall(jobMs(_, ": stage", ": count"))
    v("producer.write_job_ms") = perCall(jobMs(_, ": write"))
    v("producer.driver_ms") = perCall(s => self(s.id) / 1e6)
    v("catalog.fs_ops_per_produce") = perCall(_.attr("fs_ops"))
    val produced = extra.getOrElse("events_produced", 0.0)
    v("producer.shuffle_bytes_per_event") =
      if (produced > 0) jobs.filter(_.label.startsWith("graft produce "))
        .map(_.attr("shuffle_bytes")).sum / produced else 0.0

    Seq("readManifest", "snapshot", "cursor", "acknowledge")
      .foreach(c => v(s"catalog.${c}_ms") = medMs(s"catalog.$c"))
    v("consumer.plan_ms") = medMs("consumer.plan")
    Seq("selective", "all", "metadata_only")
      .foreach(k => v(s"consumer.read_ms.$k") = medMs(s"consumer.read.$k"))
    val selective = named("consumer.read.selective")
    val readEvents = selective.map(_.attr("events")).sum
    v("consumer.input_bytes_per_event") =
      if (readEvents > 0) selective.flatMap(kids).map(_.attr("input_bytes")).sum / readEvents
      else 0.0
    val refreshes = named("consumer.pull").filter(kids(_).nonEmpty)
    v("consumer.pull_refresh_ms") = Stats.median(refreshes.map(_.durMs))
    v("consumer.jobs_per_pull_refresh") = Stats.mean(refreshes.map(kids(_).size.toDouble))

    val batchJobs = jobs.filter(_.attrs.contains("batch_id"))
    val batches = batchJobs.map(_.attr("batch_id")).distinct.size
    v("sink.jobs_per_trigger") = if (batches > 0) batchJobs.size.toDouble / batches else 0.0

    v("spark.jobs") = jobs.size.toDouble
    v("spark.tasks") = jobs.map(_.attr("tasks")).sum
    v("spark.task_busy_s") = jobs.map(_.attr("busy_ms")).sum / 1000.0
    v("spark.gc_s") = jobs.map(_.attr("gc_ms")).sum / 1000.0
    v("spark.shuffle_write_bytes") = jobs.map(_.attr("shuffle_bytes")).sum
    v("spark.input_bytes") = jobs.map(_.attr("input_bytes")).sum
    val capacity = ctx.tracedWallS * ctx.sc.defaultParallelism
    v("spark.busy_share") = if (capacity > 0) v("spark.task_busy_s") / capacity else 0.0

    val graded = named("query.graded")
    QueryReads.Queries.foreach { q =>
      val mine = graded.filter(_.label == q)
      v(s"query.$q.graded_s") = Stats.median(mine.map(_.durMs / 1000.0))
      v(s"query.$q.jobs") = Stats.mean(mine.map(kids(_).size.toDouble))
    }
    Metrics.foreach { case (name, unit) =>
      ctx.metric(name, extra.getOrElse(name, v.getOrElse(name, 0.0)), unit)
    }
    val byName = spans.groupBy(_.name).toSeq.sortBy(_._1)
    byName.foreach { case (n, ss) =>
      ctx.note(f"span $n%-26s n=${ss.size}%5d total=${ss.map(_.durMs).sum}%10.1f ms " +
        f"self=${ss.map(s => self(s.id) / 1e6).sum}%10.1f ms")
    }
  }
}
