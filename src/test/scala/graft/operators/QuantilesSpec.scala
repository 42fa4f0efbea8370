package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Locks [[Quantiles.exactGrouped]] BIT-EQUAL to Spark's `percentile` on
  * every rank shape: exact ranks, fractional ranks (interpolation), heavy
  * ties, singleton groups, negative values, and nulls-in-values (ignored by
  * both). Bit equality (not approximate) is what lets the registry queries
  * swap one for the other without the oracle noticing. */
class QuantilesSpec extends SparkSpec {

  private val ps = Seq("p05" -> 0.05, "q1" -> 0.25, "med" -> 0.5,
    "q3" -> 0.75, "p95" -> 0.95, "p99" -> 0.99, "lo" -> 0.0, "hi" -> 1.0)

  private def compare(rows: Seq[(String, java.lang.Long)]): Unit = {
    import spark.implicits._
    val df = rows.toDF("g", "v")
    val viaPercentile = df.groupBy(col("g"))
      .agg(ps.map { case (n, p) => percentile(col("v"), lit(p)).as(n) }.head,
        ps.tail.map { case (n, p) => percentile(col("v"), lit(p)).as(n) }: _*)
      .orderBy(col("g")).collect()
    val viaExact = Quantiles.exactGrouped(df, "g", "v", ps)
      .orderBy(col("g")).collect()
    assert(viaPercentile.length == viaExact.length)
    viaPercentile.zip(viaExact).foreach { case (a, b) =>
      assert(a.getString(0) == b.getString(0))
      ps.indices.foreach { i =>
        val (x, y) = (a.get(i + 1), b.get(i + 1))
        assert(x == y ||
          java.lang.Double.doubleToLongBits(x.asInstanceOf[Double]) ==
            java.lang.Double.doubleToLongBits(y.asInstanceOf[Double]),
          s"group ${a.getString(0)} ${ps(i)._1}: percentile=$x exact=$y")
      }
    }
  }

  test("bit-equal to percentile: mixed group sizes, ties, negatives") {
    val rows =
      (0 until 997).map(i => ("a", java.lang.Long.valueOf((i * 37 % 101) - 50L))) ++
      (0 until 100).map(i => ("b", java.lang.Long.valueOf(i / 10L))) ++ // heavy ties
      Seq(("c", java.lang.Long.valueOf(42L))) ++                        // singleton
      (0 until 4).map(i => ("d", java.lang.Long.valueOf(i * 1000000007L)))
    compare(rows)
  }

  test("bit-equal to percentile: nulls in the value column are ignored") {
    val rows: Seq[(String, java.lang.Long)] =
      (0 until 50).map(i => ("a", if (i % 5 == 0) null
        else java.lang.Long.valueOf(i.toLong))) ++
      (0 until 7).map(i => ("b", java.lang.Long.valueOf(-i.toLong)))
    compare(rows)
  }

  /** `lineitem.parquet` with the columns the two percentile queries read,
    * in a fresh directory that a registry query can take as its table dir. */
  private def lineitemDir(rows: Seq[(Long, String, java.lang.Double)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-quantiles").toString
    rows.toDF("l_orderkey", "l_returnflag", "l_extendedprice")
      .write.parquet(s"$dir/lineitem.parquet")
    dir
  }

  private def tc(c: org.apache.spark.sql.Column) = round(c * 10000).cast("long")

  /** q_agg_percentile against the same query written with `percentile`. */
  private def checkAggPercentile(dir: String): Unit = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val v = col("l_extendedprice")
    val expected = li.groupBy(col("l_returnflag"))
      .agg(tc(percentile(v, lit(0.5))).as("p50_tc"), tc(percentile(v, lit(0.95))).as("p95_tc"),
        round(min(v) * 100).cast("long").as("min_c"), round(max(v) * 100).cast("long").as("max_c"))
      .orderBy(col("l_returnflag")).collect().toSeq
    assert(graft.SparkEntry.queries("q_agg_percentile")(spark, dir).collect().toSeq == expected)
  }

  /** q_profile_skew against the same query written with `percentile`. */
  private def checkProfileSkew(dir: String): Unit = {
    val n = col("n")
    val expected = spark.read.parquet(s"$dir/lineitem.parquet")
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_keys"), sum(n).as("n_rows"), max(n).as("max_n"),
        tc(percentile(n, lit(0.5))).as("p50_tc"), tc(percentile(n, lit(0.99))).as("p99_tc"))
      .collect().toSeq
    assert(graft.SparkEntry.queries("q_profile_skew")(spark, dir).collect().toSeq == expected)
  }

  test("q_agg_percentile keeps a group whose values are all null, as percentile does") {
    val rows = (0 until 60).map(i => (i.toLong, "A", java.lang.Double.valueOf(i * 1.25))) ++
      (0 until 5).map(i => (i.toLong, "N", null: java.lang.Double)) ++
      (0 until 7).map(i => (i.toLong, "R", java.lang.Double.valueOf(100.0 - i)))
    checkAggPercentile(lineitemDir(rows))
  }

  test("both percentile queries match percentile on empty input") {
    val dir = lineitemDir(Seq.empty)
    checkAggPercentile(dir)
    checkProfileSkew(dir)
    // a global aggregate has one row even on no input: null quantiles
    assert(graft.SparkEntry.queries("q_profile_skew")(spark, dir).collect().length == 1)
  }

  test("plan shape: no ObjectHashAggregate, codegen operators only") {
    import spark.implicits._
    val df = (0 until 100).map(i => ("g", i.toLong)).toDF("g", "v")
    val exact = Quantiles.exactGrouped(df, "g", "v", Seq("med" -> 0.5))
    val physical = exact.queryExecution.executedPlan.toString
    assert(!physical.contains("ObjectHashAggregate"),
      s"exactGrouped must not fall back to the histogram aggregate:\n$physical")
  }
}
