package graft

/** Dev tool: time individual registered queries in isolation.
  * `runMain graft.TimeQ <sfDir> <name>[,<name>…]` — one warm-up action,
  * then each named query counted and timed. */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(',')
    val spark = GraftSession.getOrCreate()
    spark.range(100000).selectExpr("sum(id)").collect()
    names.foreach { n =>
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir).count()
      println(f"[timeq] $n ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
