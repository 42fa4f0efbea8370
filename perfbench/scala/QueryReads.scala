package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/**
 * `query_reads`: the graded reads of a fixed set of registry queries on
 * seeded tables at sf0.1 — the layers no event workload reaches
 * (`graft.operators`, `graft.llm`, `graft.functions.EventBridge`,
 * `graft.queries`). A query function builds its plan (and any fixtures)
 * untimed; only the graded read is timed: collecting the returned frame
 * (every row and column, so no part of the result can be pruned away). The
 * last pass's rows are written to parquet so DuckDB can check them against
 * the registry's oracle SQL. Two untimed passes warm every query first
 * (the knn family gets an extra run per pass, as in `graft.Bench`).
 */
object QueryReads {
  /** Chosen for a graded read that dominates its fixture and is steady. */
  val Queries: Seq[String] = Seq(
    "q_agg_percentile",  // operators.Quantiles over lineitem
    "q_eb_numeric",      // functions.EventBridge over events' JSON props
    "q_events_sessions", // session windows over event time
    "q_knn_ivf")         // llm.Similarity (IVF) over embeddings

  /** Scale factor of the generated tables. */
  val Sf = 0.03

  /** The JIT-depth-sensitive family gets a second untimed run. */
  private def deepWarmup(q: String) = q.startsWith("q_dedup_") || q.startsWith("q_knn_")

  def run(ctx: Ctx): Unit = {
    import ctx.spark
    val queries = if (ctx.smoke) Queries.take(2) else Queries
    val dir = ctx.dir("tables")
    val (rows, genMs) = ctx.timedMs(new Tables(spark, ctx.seed, if (ctx.smoke) 0.001 else Sf).write(dir))
    val fns = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    queries.foreach(q => require(oracle.contains(q), s"$q has no oracle SQL"))
    Files.write(ctx.tmp.resolve("oracle_sql.json"), queries.map(q =>
      s"${Json.str(q)}:${Json.str(oracle(q))}").mkString("{", ",", "}")
      .getBytes(StandardCharsets.UTF_8))

    val results = mutable.Map.empty[String, (Array[Row], StructType)]
    def graded(q: String): Double = {
      val df = fns(q)(spark, dir)
      try {
        val (rows, ms) = ctx.timedMs(ctx.attempt(ctx.tracer.span("query.graded", q)(df.collect())))
        results(q) = (rows, df.schema)
        ms
      } finally {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      }
    }
    // two untimed passes: the first timed pass otherwise still shows JIT
    // warm-up (measured: 20-40 % slower than the third)
    val (_, warmMs) = ctx.timedMs((0 until 2).foreach(_ => queries.foreach { q =>
      if (deepWarmup(q)) graded(q)
      graded(q)
    }))
    ctx.note(f"query_reads: generated $rows rows in ${genMs / 1000}%.2f s, warm-up pass ${warmMs / 1000}%.2f s")

    // set-up: the query functions alone (plans and fixtures), several times
    ctx.setups(3)(_ => queries.foreach(q => fns(q)(spark, dir)))

    val samples = mutable.ArrayBuffer.empty[(String, Int, Double, Boolean)]
    val t0 = System.nanoTime()
    var pass = 0
    // at least three passes: each query's median then ignores one slow pass
    while (ctx.running(t0, pass, minRounds = if (ctx.smoke) 1 else 3)) {
      queries.foreach { q =>
        val (ms, traced) = ctx.round(_ => graded(q))
        samples += ((q, pass, ms, traced))
      }
      if (ctx.trace) ctx.round(_ => ()) // flips which queries the next pass traces
      pass += 1
    }
    // the last pass's results, for the DuckDB oracle check
    results.foreach { case (q, (rows, schema)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .write.parquet(ctx.tmp.resolve(s"results/$q").toString)
    }
    report(ctx, queries, samples.toSeq)
  }

  private def report(ctx: Ctx, queries: Seq[String],
                     samples: Seq[(String, Int, Double, Boolean)]): Unit = {
    val bare = samples.filterNot(_._4)
    val perQuery = queries.map(q => q -> Stats.median(bare.filter(_._1 == q).map(_._3)))
    // one pass over the query set, each query at its median graded time
    val passMs = perQuery.map(_._2).sum
    ctx.endToEnd("latency_ms", passMs, "ms")
    ctx.endToEnd("throughput_per_s", queries.size / (passMs / 1000.0), "1/s")
    ctx.reportOnly("rss_peak_mb", ctx.rssPeakMb, "MB")
    ctx.reportOnly("graded_read_s", perQuery.map(_._2).sum / 1000.0, "s")
    perQuery.foreach { case (q, ms) =>
      ctx.reportOnly(s"graded_s.$q", ms / 1000.0, "s")
      ctx.note(s"  samples ms: " + samples.filter(_._1 == q).map(x => f"${x._3}%.0f").mkString(" "))
    }
    ctx.reportOnly("ops_failed_ratio", ctx.failed.toDouble / ctx.attempted, "ratio")
    ctx.note(s"query_reads: ${samples.map(_._2).distinct.size} timed passes over ${queries.size} queries")
    if (ctx.trace) {
      val traced = samples.filter(_._4)
      // per query: traced against untraced graded time, summed over queries
      val both = queries.filter(q => traced.exists(_._1 == q) && bare.exists(_._1 == q))
      def total(xs: Seq[(String, Int, Double, Boolean)]) =
        both.map(q => Stats.median(xs.filter(_._1 == q).map(_._3))).sum
      Layers.report(ctx, Map("trace.overhead_pct" ->
        (if (both.isEmpty) 0.0 else (total(traced) / total(bare) - 1.0) * 100.0)))
    }
  }
}
