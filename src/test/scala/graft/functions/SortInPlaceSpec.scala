package graft.functions

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{broadcast, col, count, expr, lit, sum}

import graft.{JobCounter, SparkSpec}

/** [[SortInPlace]]: a global sort over an input AQE already runs as one
  * task sorts in that task, with no range exchange, and returns the rows, in
  * the order, a plan without AQE returns; any other input keeps Spark's
  * range exchange. */
class SortInPlaceSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** A session of its own (same context, same extensions) with `confs` set. */
  private def session(confs: (String, String)*): SparkSession = {
    val s = spark.newSession()
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** 30 groups; after the aggregate, an int column with nulls and ties, and
    * a double column with NaN, -0.0, 0.0 and nulls. `g` is unique, so a sort
    * that ends with it has one correct order. */
  private def grouped(s: SparkSession): DataFrame =
    s.range(0, 3000).groupBy(expr("id % 30").as("g"))
      .agg(count(lit(1)).as("n"), sum("id").as("s"))
      .selectExpr("g", "n", "s",
        "case when g % 7 = 0 then null else (g * 37) % 11 end as a",
        "case g % 6 when 0 then double('NaN') when 1 then -0.0D when 2 then 0.0D " +
          "when 3 then null else g / 4.0D end as d")

  /** Rows with doubles as their bits, so -0.0 and 0.0 differ. */
  private def exact(rows: Array[Row]): Seq[Seq[Any]] = rows.toSeq.map(_.toSeq.map {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case v => v
  })

  /** The same context with AQE off: the reference plan. */
  private lazy val static = session("spark.sql.adaptive.enabled" -> "false")

  /** Collects `df`: its rows, the jobs that launched and the range exchanges
    * left in its final adaptive plan. */
  private def run(df: DataFrame): (Array[Row], Long, Int) = {
    val jobs = new JobCounter(df.sparkSession)
    val (rows, launched) = try (df.collect(), jobs.count) finally jobs.close()
    val plan = df.queryExecution.executedPlan
    assert(plan.asInstanceOf[AdaptiveSparkPlanExec].isFinalPlan)
    val ranges = collect(plan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }
    (rows, launched, ranges.size)
  }

  private def sortsInPlace(build: SparkSession => DataFrame): Array[Row] = {
    val (rows, _, ranges) = run(build(spark))
    assert(ranges == 0, s"a range exchange is left:\n${build(spark).queryExecution.executedPlan}")
    assert(exact(rows) == exact(build(static).collect()))
    rows
  }

  private def keepsRange(df: DataFrame, reference: DataFrame): Unit = {
    val (rows, _, ranges) = run(df)
    assert(ranges == 1, s"the range exchange must stay:\n${df.queryExecution.executedPlan}")
    assert(exact(rows) == exact(reference.collect()))
  }

  private def sortedGroups(s: SparkSession): DataFrame = grouped(s).orderBy("g")

  test("a small grouped result sorts where it is aggregated: two jobs, no range exchange") {
    val (rows, jobs, ranges) = run(sortedGroups(spark))
    assert(ranges == 0)
    // the aggregate's map stage, then one task that merges, sorts and returns
    assert(jobs == 2, s"jobs launched by collect(): $jobs")
    assert(rows.map(_.getLong(0)).toSeq == (0L until 30L))
    // the same frame with coalescing off runs the sample job and the range
    // map stage as well
    val (_, staticJobs, staticRanges) =
      run(sortedGroups(session("spark.sql.adaptive.coalescePartitions.enabled" -> "false")))
    assert(staticRanges == 1 && staticJobs == 4, s"jobs: $staticJobs")
  }

  test("rows and order equal the plan without AQE for every key order") {
    sortsInPlace(grouped(_).orderBy(col("a").asc, col("g")))
    sortsInPlace(grouped(_).orderBy(col("a").desc, col("g").desc))
    sortsInPlace(grouped(_).orderBy(col("a").asc_nulls_last, col("g")))
    sortsInPlace(grouped(_).orderBy(col("a").desc_nulls_first, col("g")))
    sortsInPlace(grouped(_).orderBy(col("d").desc, col("a").asc_nulls_last, col("s")))
    // NaN sorts above every number, -0.0 ties with 0.0 and `g` breaks the tie
    val rows = sortsInPlace(grouped(_).orderBy(col("d"), col("g")))
    val ds = rows.map(r => if (r.isNullAt(4)) None else Some(r.getDouble(4)))
    assert(ds.head.isEmpty && ds.last.exists(_.isNaN))
    assert(ds.flatten.exists(d => d == 0.0 && 1 / d < 0), "-0.0 must come through")
  }

  test("a grouped result joined to a broadcast side sorts in place") {
    def joined(s: SparkSession) = grouped(s)
      .join(broadcast(s.range(0, 30).selectExpr("id as g", "id * 3 as w")), "g")
      .orderBy(col("w").desc)
    val (_, jobs, ranges) = run(joined(spark))
    // the aggregate's map stage and the broadcast, then the result task
    assert(ranges == 0 && jobs == 3, s"jobs: $jobs")
    sortsInPlace(joined)
  }

  test("an empty result") {
    assert(sortsInPlace(grouped(_).where(col("n") > 1000).orderBy("g")).isEmpty)
  }

  test("a shuffle input over the one-partition size keeps the range exchange") {
    keepsRange(
      sortedGroups(session("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1")),
      sortedGroups(static))
  }

  test("a sort directly over a file scan keeps the range exchange") {
    val dir = Files.createTempDirectory("sort-in-place").resolve("t").toString
    try {
      spark.range(0, 500).selectExpr("id", "id % 13 as k").write.parquet(dir)
      def sorted(s: SparkSession) = s.read.parquet(dir).orderBy(col("k"), col("id").desc)
      keepsRange(sorted(spark), sorted(static))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir).getParentFile)
  }

  test("a sort over repartition(8) keeps the range exchange") {
    keepsRange(grouped(spark).repartition(8).orderBy("g"), sortedGroups(static))
  }

  test("a sort over a cached frame keeps the range exchange") {
    val cached = grouped(spark).cache()
    try {
      cached.count()
      keepsRange(cached.orderBy("g"), sortedGroups(static))
    } finally { cached.unpersist(blocking = true): Unit }
  }

  test("a session with partition coalescing off keeps the range exchange") {
    keepsRange(
      sortedGroups(session("spark.sql.adaptive.coalescePartitions.enabled" -> "false")),
      sortedGroups(static))
  }
}
