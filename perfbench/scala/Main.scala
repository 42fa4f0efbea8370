package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/**
 * Benchmark JVM entry point. Runs one workload and writes its result as
 * JSON to `--out`; `perfbench/run.py` builds, launches, adds the DuckDB
 * oracle checks and prints the report.
 *
 *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *                  --tmp <scratch dir> --out <result.json> [--scale smoke]
 */
object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "ingest_small" -> IngestSmall.run,
    "consume_selective" -> ConsumeSelective.run,
    "stream_pipeline" -> StreamPipeline.run,
    "query_reads" -> QueryReads.run)

  /** Workloads the build's class-list training run covers. */
  val Trained: Seq[String] = Seq("consume_selective", "ingest_small", "query_reads")

  /** `--workload all` runs the [[Trained]] workloads in turn in one JVM (the
    * class-list training run of the build); each then writes
    * `<workload>.json` beside `--out`. */
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val names = if (opts("workload") == "all") Trained else Seq(opts("workload"))
    val tmp = Paths.get(opts("tmp"))
    val out = Paths.get(opts("out"))
    val t0 = System.nanoTime()
    val spark = session(tmp)
    val codes = names.map { workload =>
      val single = names.size == 1
      val ctx = new Ctx(spark, workload, opts("seed").toLong, opts("seconds").toDouble,
        opts.get("trace").contains("1"), opts.get("scale").contains("smoke"),
        if (single) tmp else tmp.resolve(workload))
      ctx.note(f"session started in ${ctx.since(t0)}%.2f s")
      val code =
        try {
          Workloads(workload)(ctx)
          0
        } catch {
          case t: Throwable =>
            ctx.check("workload completed", ok = false, s"${t.getClass.getName}: ${t.getMessage}")
            t.printStackTrace()
            1
        }
      ctx.note(f"workload ran in ${ctx.since(t0)}%.2f s since session start")
      ctx.writeResult(if (single) out else out.resolveSibling(s"$workload.json"))
      code
    }
    spark.stop()
    System.exit(codes.max)
  }

  def session(tmp: Path): SparkSession = {
    val s = graft.GraftSession.builder()
      .config("spark.local.dir", tmp.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", tmp.resolve("spark-warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", tmp.resolve("checkpoints").toString)
      .config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    val fs = org.apache.hadoop.fs.FileSystem.get(tmp.toUri, s.sparkContext.hadoopConfiguration)
    require(fs.isInstanceOf[CountingLocalFileSystem], s"fs.file.impl not in effect: ${fs.getClass}")
    graft.GraftSession.configure(s)
  }
}

/** One run: its inputs, the tracer, and everything it reports. */
final class Ctx(val spark: SparkSession, val workload: String, val seed: Long,
                val seconds: Double, val trace: Boolean, val smoke: Boolean,
                val tmp: Path) {
  val sc = spark.sparkContext
  val tracer = new Tracer(sc)
  private val jobs = new JobTracer(tracer)
  val runStartNs: Long = Clock.nowNs

  var attempted = 0L
  var failed = 0L
  /** name -> (times checked, all passed, first failure) */
  private val checks = mutable.LinkedHashMap.empty[String, (Int, Boolean, String)]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.ArrayBuffer.empty[String]

  /** A correctness check; repeated checks of one name merge into one line
    * that passes only if every repetition passed. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    val (n, allOk, first) = checks.getOrElse(name, (0, true, ""))
    val failure = if (ok || first.nonEmpty) first else detail
    checks(name) = (n + 1, allOk && ok, failure)
    if (!ok) Console.err.println(s"[perfbench] CHECK FAILED: $name: $detail")
  }

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  def note(line: String): Unit = notes += line

  /** An end-to-end metric: reported by untraced runs, noted by all. */
  def endToEnd(name: String, value: Double, unit: String): Unit = {
    if (!trace) metric(name, value, unit)
    note(f"$name%-28s $value%14.4f $unit")
  }

  /** A metric printed in the report but not in the result: workload-specific,
    * or a tail that needs more samples than a run has. */
  def reportOnly(name: String, value: Double, unit: String): Unit =
    note(f"$name%-28s $value%14.4f $unit")

  def reportTail(name: String, xs: Seq[Double], unit: String): Unit =
    note(f"$name%-28s " + Stats.tail(xs).map(_.describe(unit))
      .getOrElse(s"n/a (${xs.size} samples; a tail needs at least 20)"))

  /** Set-up repeated `n` times; `setup_s` is the median, the last result
    * is kept. */
  def setups[T](n: Int)(body: Int => T): T = {
    var last: Option[T] = None
    val secs = (0 until n).map { k =>
      val t0 = System.nanoTime()
      last = Some(body(k))
      since(t0)
    }
    endToEnd("setup_s", Stats.median(secs), "s")
    last.get
  }

  def timedMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Bytes of the files under `path` (0 when absent). */
  def duBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }
  }

  /** Data files (parquet) under `path`. */
  def dataFiles(path: String): Long = {
    val s = Files.walk(Paths.get(path))
    try s.filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet")).count()
    finally s.close()
  }

  def dir(name: String): String = {
    val p = tmp.resolve(name)
    Files.createDirectories(p)
    p.toString
  }

  /** One attempted operation; a throw counts as failed and propagates. */
  def attempt[T](body: => T): T = {
    attempted += 1
    try body catch { case t: Throwable => failed += 1; throw t }
  }

  private var rounds = 0L
  private var tracedWallNs = 0L
  def tracedWallS: Double = tracedWallNs / 1e9

  /** Runs one round of the timed phase. In a traced run, odd rounds carry
    * spans and the job listener and even rounds run bare, so one run
    * yields both the per-layer split and the tracing overhead. Returns
    * whether the round was traced. */
  def round[T](body: Boolean => T): (T, Boolean) = {
    val traced = trace && rounds % 2 == 1
    rounds += 1
    if (traced) traceOn()
    val t0 = System.nanoTime()
    try (body(traced), traced)
    finally if (traced) {
      traceOff()
      tracedWallNs += System.nanoTime() - t0
    }
  }

  private def traceOn(): Unit = {
    sc.addSparkListener(jobs)
    tracer.on = true
  }

  private def traceOff(): Unit = {
    tracer.on = false
    org.apache.spark.perfbenchshim.Bus.drain(sc)
    sc.removeSparkListener(jobs)
  }

  /** Seconds since `t0` (a System.nanoTime reading). */
  def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** The timed phase's deadline check: at least `minRounds`, then until
    * `seconds` have passed since `t0`. */
  def running(t0: Long, done: Int, minRounds: Int = 1): Boolean =
    done < minRounds || since(t0) < seconds

  def rssPeakMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def writeResult(out: Path): Unit = {
    if (trace) {
      val lines = tracer.export(runStartNs)
      Files.createDirectories(out.getParent)
      Files.write(out.resolveSibling("spans.jsonl"),
        lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
    val ms = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }.mkString(",")
    val cs = checks.map { case (name, (n, ok, d)) =>
      val label = if (n > 1) s"$name (x$n)" else name
      s"""{"name":${Json.str(label)},"ok":$ok,"detail":${Json.str(d.take(500))}}""" }.mkString(",")
    val ns = notes.map(Json.str).mkString(",")
    val json = s"""{"workload":${Json.str(workload)},"seed":$seed,"trace":$trace,""" +
      s""""attempted":$attempted,"failed":$failed,"metrics":{$ms},"checks":[$cs],"notes":[$ns]}"""
    Files.write(out, (json + "\n").getBytes(StandardCharsets.UTF_8)): Unit
  }
}
