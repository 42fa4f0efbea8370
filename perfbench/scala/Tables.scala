package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Seeded generator of the tables the benchmark's registry queries read
 * (`<dir>/<table>.parquet`), shaped like the project's fixture data: the
 * same columns, types, vocabularies and value ranges, at scale factor `sf`
 * (sf 0.1: 600k lineitem, 100k events, 2k embeddings). Every
 * value is a hash of (seed, table, row, column), so a seed always yields
 * the same tables.
 */
final class Tables(spark: SparkSession, seed: Long, sf: Double) {
  private def n(perSf1: Double): Long = math.max(1L, math.round(perSf1 * sf))
  val orders: Long = n(1500000)
  val lineitems: Long = n(6000000)
  val events: Long = n(1000000)
  val users: Long = n(15000)
  val embeddings: Long = n(20000)

  private val Slices = 4

  private def h(salt: Int, cols: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: cols): _*)
  /** Uniform double in [0, 1). */
  private def u(salt: Int, cols: Column*): Column =
    shiftrightunsigned(h(salt, cols: _*), 11).cast("double") / 9007199254740992.0
  /** Uniform long in [0, m). */
  private def i(salt: Int, m: Long, cols: Column*): Column =
    pmod(h(salt, cols: _*), lit(m))
  private def pick(salt: Int, values: Seq[String], cols: Column*): Column =
    element_at(array(values.map(lit): _*), (i(salt, values.size.toLong, cols: _*) + 1).cast("int"))
  private def money(salt: Int, lo: Double, hi: Double, cols: Column*): Column =
    round(lit(lo) + u(salt, cols: _*) * (hi - lo), 2)
  /** Midnight of a uniform day in 1995-01-02 .. 2001-11-04. */
  private def day(salt: Int, cols: Column*): Column =
    timestamp_seconds((lit(788313600L) + i(salt, 2498L, cols: _*) * 86400L))

  private def ids(count: Long): DataFrame = spark.range(0, count, 1, Slices).toDF()
  private val id = col("id")

  def lineitem: DataFrame = ids(lineitems).select(
    i(31, orders, id).as("l_orderkey"),
    i(32, n(200000), id).as("l_partkey"),
    i(33, n(10000), id).as("l_suppkey"),
    (i(34, 7, id) + 1).cast("int").as("l_linenumber"),
    (i(35, 50, id) + 1).cast("double").as("l_quantity"),
    money(36, 900.0, 100000.0, id).as("l_extendedprice"),
    (i(37, 11, id).cast("double") / 100.0).as("l_discount"),
    (i(38, 9, id).cast("double") / 100.0).as("l_tax"),
    pick(39, Seq("A", "N", "R"), id).as("l_returnflag"),
    pick(40, Seq("O", "F"), id).as("l_linestatus"),
    day(41, id).as("l_shipdate"))

  /** Events in event-id order over 30 days from 2024-01-01; `value` is
    * exponential with mean 50; `props` carries `k` uniform in [0, 100). */
  def eventsDf: DataFrame = {
    val stepUs = 30L * 86400L * 1000000L / events
    ids(events).select(
      id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + id * stepUs + i(51, stepUs, id)).as("ts"),
      i(52, users, id).as("user_id"),
      pick(53, Seq("click", "view", "purchase", "signup", "error"), id).as("event_type"),
      greatest(lit(0.01), round(-log(lit(1.0) - u(54, id)) * 50.0, 2)).as("value"),
      concat(lit("{\"k\": "), i(55, 100, id), lit("}")).as("props"))
  }

  /** 64-dimensional unit vectors clustered around one of 10 label centers. */
  def embeddingsDf: DataFrame = {
    val label = i(71, 10, id)
    val raw = transform(sequence(lit(0), lit(63)),
      k => (u(72, label, k) - 0.5) * 0.6 + (u(73, id, k) - 0.5) * 0.4)
    ids(embeddings).select(id.as("vec_id"), raw.as("raw"), label.cast("int").as("label"))
      .select(col("vec_id"),
        transform(col("raw"), x => (x / sqrt(aggregate(col("raw"), lit(0.0),
          (acc, y) => acc + y * y))).cast("float")).as("embedding"),
        col("label"))
  }

  /** Writes the tables under `dir`; returns the row count written. */
  def write(dir: String): Long = {
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try {
      Seq("lineitem" -> lineitem, "events" -> eventsDf, "embeddings" -> embeddingsDf)
        .foreach { case (name, df) => df.write.parquet(s"$dir/$name.parquet") }
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    lineitems + events + embeddings
  }
}
