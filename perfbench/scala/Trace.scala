package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Wall clock in epoch nanoseconds with `nanoTime` resolution, so spans the
  * benchmark records and job times Spark's listener bus reports (epoch ms)
  * share one time base. */
object Clock {
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def nowNs: Long = epochNs0 + (System.nanoTime() - nano0)
  def msToNs(ms: Long): Long = ms * 1000000L
}

/** One traced interval. `parent` is the span that caused it (0 = none);
  * spans of one operation share `op`, the id of its root span. */
final case class Span(id: Long, name: String, label: String, startNs: Long,
                      endNs: Long, parent: Long, op: Long,
                      attrs: Map[String, Double]) {
  def durNs: Long = endNs - startNs
  def durMs: Double = durNs / 1e6
  def attr(k: String): Double = attrs.getOrElse(k, 0.0)
}

object Spans {
  /** Self time of every span: its duration minus the length of the union
    * of its children's intervals, each clipped to the parent's. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var lo = 0L
      var hi = -1L
      ivs.foreach { case (a, b) =>
        if (hi < lo || a > hi) {
          if (hi >= lo) covered += hi - lo
          lo = a; hi = b
        } else hi = math.max(hi, b)
      }
      if (hi >= lo) covered += hi - lo
      s.id -> (s.durNs - covered)
    }.toMap
  }
}

/** File system operations so far (see [[CountingLocalFileSystem]]). */
object FsOps {
  import scala.jdk.CollectionConverters._

  /** All threads. */
  def now(): Long = CountingLocalFileSystem.ops.values.asScala.map(_.get).sum

  /** Threads whose name starts with `prefix`. */
  def ofThreads(prefix: String): Long = CountingLocalFileSystem.ops.asScala
    .collect { case (name, n) if name.startsWith(prefix) => n.get }.sum
}

/**
 * In-memory span store for a traced run. `span` wraps a call into a layer;
 * while a span is open, the calling thread's Spark local property
 * [[Tracer.SpanKey]] names it, so [[JobTracer]] parents the Spark jobs the
 * call launches to it. Streaming jobs carry the micro-batch id instead and
 * are parented to that batch's trigger span at export. With `on` false,
 * `span` runs its body and records nothing.
 */
final class Tracer(sc: SparkContext) {
  @volatile var on: Boolean = false
  private val ids = new AtomicLong(1)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  def nextId(): Long = ids.getAndIncrement()

  def add(s: Span): Unit = spans.synchronized { spans += s }: Unit

  def all: Seq[Span] = spans.synchronized(spans.toList)

  def span[T](name: String, label: String = "")(body: => T): T =
    spanWith[T](name, label)(body)((_: T) => Map.empty)

  /** `attrs` derives attributes from the result once the body returns. */
  def spanWith[T](name: String, label: String = "")(body: => T)(
      attrs: T => Map[String, Double]): T = {
    if (!on) return body
    val id = nextId()
    val (parent, op) = stack.get() match {
      case (p, o) :: _ => (p, o)
      case Nil => (0L, id)
    }
    val prevProp = sc.getLocalProperty(Tracer.SpanKey)
    stack.set((id, op) :: stack.get())
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    val fs0 = FsOps.now()
    val t0 = Clock.nowNs
    try {
      val r = body
      val t1 = Clock.nowNs
      add(Span(id, name, label, t0, t1, parent, op,
        attrs(r) + ("fs_ops" -> (FsOps.now() - fs0).toDouble)))
      r
    } finally {
      stack.set(stack.get().tail)
      sc.setLocalProperty(Tracer.SpanKey, prevProp)
    }
  }

  /** All spans with job parents resolved: a streaming job hangs under the
    * trigger span of its micro-batch, and a job joins its parent's op. */
  def resolved: Seq[Span] = {
    val ss = all
    val triggerOf: Map[Long, Long] = ss.filter(_.name == "stream.trigger")
      .map(s => s.attr("batch_id").toLong -> s.id).toMap
    val opOf: Map[Long, Long] = ss.map(s => s.id -> s.op).toMap
    ss.map { s =>
      if (s.name != "spark.job") s
      else {
        val parent =
          if (s.parent == 0L && s.attrs.contains("batch_id"))
            triggerOf.getOrElse(s.attr("batch_id").toLong, 0L)
          else s.parent
        s.copy(parent = parent, op = if (parent == 0L) s.id else opOf.getOrElse(parent, parent))
      }
    }
  }

  /** Spans as JSON lines, times relative to the run start, with self time. */
  def export(runStartNs: Long): Seq[String] = {
    val resolved = this.resolved
    val self = Spans.selfTimes(resolved)
    resolved.sortBy(_.startNs).map { s =>
      val attrs = s.attrs.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",")
      s"""{"id":${s.id},"name":${Json.str(s.name)},"label":${Json.str(s.label)},""" +
        s""""start_ms":${Json.num((s.startNs - runStartNs) / 1e6)},""" +
        s""""dur_ms":${Json.num(s.durMs)},"self_ms":${Json.num(self(s.id) / 1e6)},""" +
        s""""parent":${s.parent},"op":${s.op},"attrs":{$attrs}}"""
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  /** Set by Spark's micro-batch execution on the jobs of each batch. */
  val BatchIdKey = "streaming.sql.batchId"
  val DescKey = "spark.job.description"
}

/**
 * SparkListener turning each job into a `spark.job` span parented to the
 * span (or micro-batch) that launched it, with task counts, task busy and
 * GC time, shuffle-write and input bytes summed from its tasks.
 */
final class JobTracer(tracer: Tracer) extends SparkListener {
  private final class Open(val startNs: Long, val parent: Long,
                           val batchId: Option[Long], val desc: String) {
    var tasks = 0L
    var busyMs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var inputBytes = 0L
  }
  private val open = mutable.Map.empty[Int, Open]
  private val jobOfStage = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    open(e.jobId) = new Open(Clock.msToNs(e.time),
      prop(Tracer.SpanKey).map(_.toLong).getOrElse(0L),
      prop(Tracer.BatchIdKey).map(_.toLong), prop(Tracer.DescKey).getOrElse(""))
    e.stageIds.foreach(s => jobOfStage(s) = e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- jobOfStage.get(e.stageId); o <- open.get(j)) {
      o.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        o.busyMs += m.executorRunTime
        o.gcMs += m.jvmGCTime
        o.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        o.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { o =>
      jobOfStage.filterInPlace((_, j) => j != e.jobId)
      val attrs = Map[String, Double]("tasks" -> o.tasks.toDouble,
        "busy_ms" -> o.busyMs.toDouble, "gc_ms" -> o.gcMs.toDouble,
        "shuffle_bytes" -> o.shuffleBytes.toDouble,
        "input_bytes" -> o.inputBytes.toDouble) ++
        o.batchId.map(b => "batch_id" -> b.toDouble)
      val id = tracer.nextId()
      tracer.add(Span(id, "spark.job", o.desc, o.startNs, Clock.msToNs(e.time),
        o.parent, id, attrs))
    }
  }
}

/** Minimal JSON writing for numbers and strings. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else BigDecimal(v).round(new java.math.MathContext(10)).toString
}
