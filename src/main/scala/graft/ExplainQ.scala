package graft

/** Dev tool: run a registered query, then print its final formatted
  * physical plan and the number of Spark jobs the run launched.
  * `runMain graft.ExplainQ <sfDir> <name>` — the explain-and-iterate loop
  * every operator goes through before it counts as done. The plan is
  * printed after the run because AQE re-plans while the query executes:
  * before it, `explain` shows only the initial plan (`isFinalPlan=false`),
  * without partition coalescing, broadcast conversion or
  * [[graft.functions.SortInPlace]]. */
object ExplainQ {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.getOrCreate()
    val df = SparkEntry.queries(args(1))(spark, args(0))
    val jobs = new JobCounter(spark)
    val rows = df.collect().length
    println(s"[explainq] ${args(1)}: $rows rows, ${jobs.count} Spark jobs")
    jobs.close()
    df.explain("formatted")
    spark.stop()
  }
}
