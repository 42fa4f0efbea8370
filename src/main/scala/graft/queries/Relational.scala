package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._

/**
 * SURVEY §2.7 relational operator categories, demonstrated over the driver's
 * TPC-H-ish testdata. The reference (mochi-hpc/mofka) has no relational
 * engine — these categories are required "free via Spark" surface, and each
 * is registered here with a DuckDB oracle so the claim is checked, not
 * asserted (VERDICT r01 item 9).
 *
 * Scale notes (100 TB):
 *  - dimension joins (`customer`, `nation`, `region`) are explicitly
 *    broadcast — no shuffle of the fact side;
 *  - aggregations are plain `groupBy` → map-side partial aggregation +
 *    one shuffle on the group keys;
 *  - top-k is `orderBy().limit(k)` → TakeOrderedAndProject (no global sort);
 *  - window functions partition on high-cardinality keys so no single
 *    partition becomes a straggler.
 */
object Relational extends QueryPack {

  /** One temp-located database for the bucketed-join demo tables (cleaned
    * at JVM exit); unique table names per run keep repeated in-JVM runs
    * (bench best-of-2) writing fresh tables instead of colliding. */
  private lazy val bucketDbDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-bucket-db")
    sys.addShutdownHook {
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p): Unit)
      } catch { case _: Throwable => () }
    }
    dir.toString
  }
  private val bucketRun = new java.util.concurrent.atomic.AtomicInteger(0)

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- aggregations --------------------------------------------------------
    "q_agg_pricing" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "lineitem")
        .filter($"l_shipdate" <= to_timestamp(lit("1998-09-02")))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          cents(sum($"l_quantity")).as("sum_qty_c"),
          cents(sum($"l_extendedprice")).as("sum_base_c"),
          cents(sum($"l_extendedprice" * (lit(1.0) - $"l_discount"))).as("sum_disc_c"),
          cents(sum($"l_extendedprice" * (lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax"))).as("sum_charge_c"),
          count(lit(1)).as("cnt"))
        .orderBy($"l_returnflag", $"l_linestatus")
    },
    "q_agg_distinct" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "orders")
        .groupBy($"o_orderstatus")
        .agg(countDistinct($"o_custkey").as("n_cust"), count(lit(1)).as("n_orders"))
        .orderBy($"o_orderstatus")
    },
    "q_agg_minmax" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "supplier")
        .groupBy($"s_nationkey")
        .agg(min($"s_acctbal").as("min_bal"), max($"s_acctbal").as("max_bal"),
          count(lit(1)).as("n"))
        .orderBy($"s_nationkey")
    },
    "q_agg_percentile" -> { (s, dir) =>
      import s.implicits._
      // EXACT percentiles (distribution aggregates beyond the HLL sketch).
      // Compared at 1e4 scale, NOT cents: prices have 2 decimals and the
      // interpolation fraction has ≤2 (p∈{.5,.95} over integer n-1), so the
      // exact percentile×1e4 is integral — a rounding boundary can never sit
      // within ulp of the value, making the cross-engine compare categorical
      // rather than fixture-lucky (cents would tie at half-cent midpoints).
      // Percentiles via Quantiles.exactGrouped (r18, guide §4/§5): same IEEE
      // interpolation as Spark's `percentile` — bit-identical, spec-locked —
      // but spillable codegen operators instead of a per-group value
      // histogram buffered in ObjectHashAggregate (the §5 memory hazard at
      // 100 TB cardinalities). min/max stay a plain hash aggregate; the
      // 3-group join is a broadcast. It is a LEFT join from the min/max
      // side: exactGrouped has no row for a group whose prices are all
      // null, where `percentile` (and the oracle) give null quantiles.
      def tc(c: org.apache.spark.sql.Column) = round(c * 10000).cast("long")
      val li = t(s, dir, "lineitem")
      val pct = graft.operators.Quantiles.exactGrouped(
        li, "l_returnflag", "l_extendedprice", Seq("p50" -> 0.5, "p95" -> 0.95))
      li.groupBy($"l_returnflag")
        .agg(cents(min($"l_extendedprice")).as("min_c"),
          cents(max($"l_extendedprice")).as("max_c"))
        .join(broadcast(pct), Seq("l_returnflag"), "left")
        .select($"l_returnflag", tc($"p50").as("p50_tc"), tc($"p95").as("p95_tc"),
          $"min_c", $"max_c")
        .orderBy($"l_returnflag")
    },
    "q_agg_rollup" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "lineitem")
        .rollup($"l_returnflag", $"l_linestatus")
        .agg(grouping_id().as("gid"), count(lit(1)).as("cnt"),
          cents(sum($"l_quantity")).as("qty_c"))
        .orderBy($"gid", $"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
    },
    "q_agg_cube" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "orders")
        .cube($"o_orderstatus", $"o_orderpriority")
        .agg(grouping_id().as("gid"), count(lit(1)).as("cnt"))
        .orderBy($"gid", $"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
    },

    // -- joins ---------------------------------------------------------------
    "q_join_broadcast" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")), $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), cents(sum($"o_totalprice")).as("rev_c"))
        .orderBy($"c_mktsegment")
    },
    "q_join_bucketed" -> { (s, dir) =>
      import s.implicits._
      // co-located fact-fact join via bucketing: both sides pre-bucketed on
      // the join key into the SAME bucket count, so the sort-merge join
      // plans with ZERO shuffle exchanges on either input — at 100 TB this
      // is the difference between re-shuffling two fact tables on every
      // join and reading already-co-located buckets. The shuffle-freeness
      // is graded: the `colocated` boolean comes from inspecting the
      // physical plan, and the row results are oracle-checked as usual.
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_buckets LOCATION '$bucketDbDir'")
      val r = bucketRun.incrementAndGet()
      val liT = s"graft_buckets.li_$r"; val ordT = s"graft_buckets.ord_$r"
      t(s, dir, "lineitem").select($"l_orderkey", $"l_extendedprice", $"l_discount")
        .write.format("parquet").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(liT)
      t(s, dir, "orders").select($"o_orderkey", $"o_orderpriority")
        .write.format("parquet").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(ordT)
      // merge hint: grade the co-located SORT-MERGE path even where the
      // small side would broadcast at demo scale (at fact×fact scale there
      // is no broadcast option — SMJ is the plan that must be shuffle-free)
      val joined = s.table(liT).hint("merge")
        .join(s.table(ordT), $"l_orderkey" === $"o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      val colocated = plan.contains("SortMergeJoin") &&
        !plan.contains("Exchange hashpartitioning")
      joined.groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n"),
          cents(sum($"l_extendedprice" * (lit(1.0) - $"l_discount"))).as("rev_c"))
        .withColumn("colocated", lit(colocated))
        .orderBy($"o_orderpriority")
    },
    "q_join_revenue" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), $"l_orderkey" === $"o_orderkey")
        .join(t(s, dir, "customer"), $"o_custkey" === $"c_custkey")
        .join(broadcast(t(s, dir, "nation")), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(t(s, dir, "region")), $"n_regionkey" === $"r_regionkey")
        .filter($"r_name" === "ASIA" &&
          $"o_orderdate" >= to_timestamp(lit("1996-01-01")) &&
          $"o_orderdate" < to_timestamp(lit("1997-01-01")))
        .groupBy($"n_name")
        .agg(cents(sum($"l_extendedprice" * (lit(1.0) - $"l_discount"))).as("rev_c"),
          count(lit(1)).as("n_items"))
        .orderBy($"n_name")
    },
    "q_join_semi" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "orders")
        .join(t(s, dir, "lineitem").filter($"l_quantity" >= 49),
          $"o_orderkey" === $"l_orderkey", "left_semi")
        .agg(count(lit(1)).as("n"))
    },
    "q_join_anti" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), $"c_custkey" === $"o_custkey", "left_anti")
        .agg(count(lit(1)).as("n"))
    },

    // -- window functions ----------------------------------------------------
    "q_window_topn" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"c_mktsegment")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")), $"o_custkey" === $"c_custkey")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 3)
        .select($"c_mktsegment", $"rn", $"o_orderkey", cents($"o_totalprice").as("price_c"))
        .orderBy($"c_mktsegment", $"rn")
    },
    "q_window_running" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_orderdate", $"o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .filter($"o_custkey" < 100)
        .withColumn("price_c", cents($"o_totalprice"))
        .select($"o_custkey", $"o_orderkey",
          sum($"price_c").over(w).as("run_c"),
          lag($"price_c", 1).over(
            Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
          ).as("prev_c"))
        .orderBy($"o_custkey", $"o_orderkey")
    },

    // -- sort / limit / top-k ------------------------------------------------
    "q_sort_topk" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "lineitem")
        .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
        .limit(10)
        .select($"l_orderkey", $"l_linenumber", cents($"l_extendedprice").as("price_c"))
    },

    // -- set operations ------------------------------------------------------
    "q_set_union" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "customer").select($"c_nationkey".as("nk"))
        .union(t(s, dir, "supplier").select($"s_nationkey".as("nk")))
        .distinct()
        .orderBy($"nk")
    },
    "q_set_except" -> { (s, dir) =>
      import s.implicits._
      // high-value orders with no high-quantity lineitem — non-empty at every sf
      t(s, dir, "orders").filter($"o_totalprice" >= 300000).select($"o_orderkey".as("k"))
        .except(t(s, dir, "lineitem").filter($"l_quantity" >= 25).select($"l_orderkey".as("k")))
        .orderBy($"k")
    },
    "q_set_intersect" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "customer").select($"c_nationkey".as("nk"))
        .intersect(t(s, dir, "supplier").select($"s_nationkey".as("nk")))
        .orderBy($"nk")
    },

    // -- scalar function library --------------------------------------------
    "q_scalar_string" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "part")
        .filter($"p_partkey" <= 200)
        .select(
          $"p_partkey",
          upper($"p_name").as("uname"),
          length($"p_name").cast("long").as("nlen"),
          substring($"p_type", 1, 5).as("t5"),
          concat($"p_brand", lit("#"), $"p_size".cast("string")).as("brandsz"),
          regexp_replace($"p_type", " ", "_").as("tnorm"),
          lpad($"p_size".cast("string"), 3, "0").as("szpad"))
        .orderBy($"p_partkey")
    },
    "q_scalar_date" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "orders")
        .filter($"o_orderkey" <= 1000)
        .select(
          $"o_orderkey",
          year($"o_orderdate").cast("long").as("y"),
          month($"o_orderdate").cast("long").as("m"),
          dayofmonth($"o_orderdate").cast("long").as("d"),
          quarter($"o_orderdate").cast("long").as("q"),
          unix_timestamp($"o_orderdate").as("epoch_s"),
          datediff($"o_orderdate", to_date(lit("1995-01-01"))).cast("long").as("days_since"))
        .orderBy($"o_orderkey")
    },
    "q_scalar_math" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "lineitem")
        .filter($"l_orderkey" <= 100)
        .select(
          $"l_orderkey", $"l_linenumber",
          cents(abs($"l_extendedprice" - 30000)).as("absdiff_c"),
          ceil($"l_extendedprice").as("ceil_p"),
          floor($"l_extendedprice").as("floor_p"),
          ($"l_partkey" % 7).as("m7"),
          micros(sqrt($"l_quantity")).as("sqrt6"),
          cents($"l_quantity" * $"l_quantity").as("sq_c"))
        .orderBy($"l_orderkey", $"l_linenumber")
    },

    // -- events table (the engine's canonical stream shape) ------------------
    "q_events_agg" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "events")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), cents(sum($"value")).as("sum_v_c"),
          min($"user_id").as("min_u"), max($"user_id").as("max_u"))
        .orderBy($"event_type")
    },
    "q_events_hour" -> { (s, dir) =>
      import s.implicits._
      // ts arrives as long epoch-nanos (normalized in Q.t); hour-of-day via
      // integer division — exact on both engines.
      t(s, dir, "events")
        .withColumn("hour", expr("(ts div 3600000000000) % 24"))
        .groupBy($"hour")
        .agg(count(lit(1)).as("n"), cents(sum($"value")).as("sum_v_c"))
        .orderBy($"hour")
    },
    "q_events_window10m" -> { (s, dir) =>
      import s.implicits._
      // R7 extension (beyond reference — mofka has no event time): tumbling
      // event-time windows via the real window() operator; ts arrives as
      // long epoch-nanos (Q.t), converted exactly through microseconds.
      t(s, dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
        .groupBy(window($"event_time", "10 minutes"))
        .agg(count(lit(1)).as("n"), cents(sum($"value")).as("sum_v_c"))
        .select(unix_timestamp($"window.start").as("ws"), $"n", $"sum_v_c")
        .orderBy($"ws")
    },
    "q_events_seq" -> { (s, dir) =>
      import s.implicits._
      // order in the MICROSECOND domain (ts div 1000) with an event_id
      // tie-break: DuckDB's TIMESTAMP_NS surfaces as microseconds, so
      // ordering on raw nanos would diverge from the oracle if two events
      // of one user ever landed in the same microsecond
      val w = Window.partitionBy($"user_id").orderBy(expr("ts div 1000"), $"event_id")
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 3)
        .select($"user_id", $"rn", $"event_id")
        .orderBy($"user_id", $"rn")
    },
  )

  override def oracles: Map[String, String] = Map(
    "q_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(round(sum(l_quantity)*100) AS BIGINT) AS sum_qty_c,
        | CAST(round(sum(l_extendedprice)*100) AS BIGINT) AS sum_base_c,
        | CAST(round(sum(l_extendedprice*(1.0-l_discount))*100) AS BIGINT) AS sum_disc_c,
        | CAST(round(sum(l_extendedprice*(1.0-l_discount)*(1.0+l_tax))*100) AS BIGINT) AS sum_charge_c,
        | count(*) AS cnt
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_agg_distinct" ->
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust, count(*) AS n_orders
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_agg_minmax" ->
      """SELECT s_nationkey, min(s_acctbal) AS min_bal, max(s_acctbal) AS max_bal, count(*) AS n
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,
    "q_agg_percentile" ->
      """SELECT l_returnflag,
        | CAST(round(quantile_cont(l_extendedprice, 0.5) * 10000) AS BIGINT) AS p50_tc,
        | CAST(round(quantile_cont(l_extendedprice, 0.95) * 10000) AS BIGINT) AS p95_tc,
        | CAST(round(min(l_extendedprice) * 100) AS BIGINT) AS min_c,
        | CAST(round(max(l_extendedprice) * 100) AS BIGINT) AS max_c
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_agg_rollup" ->
      """SELECT l_returnflag, l_linestatus, GROUPING(l_returnflag, l_linestatus) AS gid,
        | count(*) AS cnt, CAST(round(sum(l_quantity)*100) AS BIGINT) AS qty_c
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_agg_cube" ->
      """SELECT o_orderstatus, o_orderpriority, GROUPING(o_orderstatus, o_orderpriority) AS gid,
        | count(*) AS cnt
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q_join_broadcast" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        | CAST(round(sum(o_totalprice)*100) AS BIGINT) AS rev_c
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // bucketed co-located join: rows equal the plain join; `colocated`
    // asserts the physical plan had no shuffle on either join input
    "q_join_bucketed" ->
      """SELECT o_orderpriority, count(*) AS n,
        | CAST(round(sum(l_extendedprice*(1.0-l_discount))*100) AS BIGINT) AS rev_c,
        | true AS colocated
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_join_revenue" ->
      """SELECT n_name,
        | CAST(round(sum(l_extendedprice*(1.0-l_discount))*100) AS BIGINT) AS rev_c,
        | count(*) AS n_items
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        | AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_join_semi" ->
      """SELECT count(*) AS n FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 49)""".stripMargin,
    "q_join_anti" ->
      """SELECT count(*) AS n FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "q_window_topn" ->
      """SELECT c_mktsegment, CAST(rn AS INT) AS rn, o_orderkey, CAST(round(o_totalprice*100) AS BIGINT) AS price_c
        |FROM (SELECT c_mktsegment, o_orderkey, o_totalprice,
        |        row_number() OVER (PARTITION BY c_mktsegment
        |                           ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |      FROM orders JOIN customer ON o_custkey = c_custkey) s
        |WHERE rn <= 3 ORDER BY c_mktsegment, rn""".stripMargin,
    "q_window_running" ->
      """SELECT o_custkey, o_orderkey,
        | CAST(sum(CAST(round(o_totalprice*100) AS BIGINT))
        |   OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_c,
        | lag(CAST(round(o_totalprice*100) AS BIGINT), 1)
        |   OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_c
        |FROM orders WHERE o_custkey < 100
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_sort_topk" ->
      """SELECT l_orderkey, l_linenumber, CAST(round(l_extendedprice*100) AS BIGINT) AS price_c
        |FROM lineitem ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10""".stripMargin,
    "q_set_union" ->
      """SELECT c_nationkey AS nk FROM customer
        |UNION SELECT s_nationkey AS nk FROM supplier ORDER BY nk""".stripMargin,
    "q_set_except" ->
      """SELECT o_orderkey AS k FROM orders WHERE o_totalprice >= 300000
        |EXCEPT SELECT l_orderkey AS k FROM lineitem WHERE l_quantity >= 25 ORDER BY k""".stripMargin,
    "q_set_intersect" ->
      """SELECT c_nationkey AS nk FROM customer
        |INTERSECT SELECT s_nationkey AS nk FROM supplier ORDER BY nk""".stripMargin,
    "q_scalar_string" ->
      """SELECT p_partkey, upper(p_name) AS uname, CAST(length(p_name) AS BIGINT) AS nlen,
        | substr(p_type, 1, 5) AS t5,
        | p_brand || '#' || CAST(p_size AS VARCHAR) AS brandsz,
        | replace(p_type, ' ', '_') AS tnorm,
        | lpad(CAST(p_size AS VARCHAR), 3, '0') AS szpad
        |FROM part WHERE p_partkey <= 200 ORDER BY p_partkey""".stripMargin,
    "q_scalar_date" ->
      """SELECT o_orderkey, CAST(year(o_orderdate) AS BIGINT) AS y,
        | CAST(month(o_orderdate) AS BIGINT) AS m,
        | CAST(day(o_orderdate) AS BIGINT) AS d,
        | CAST(quarter(o_orderdate) AS BIGINT) AS q,
        | epoch_ms(o_orderdate) // 1000 AS epoch_s,
        | date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since
        |FROM orders WHERE o_orderkey <= 1000 ORDER BY o_orderkey""".stripMargin,
    "q_scalar_math" ->
      """SELECT l_orderkey, l_linenumber,
        | CAST(round(abs(l_extendedprice - 30000)*100) AS BIGINT) AS absdiff_c,
        | CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_p,
        | CAST(floor(l_extendedprice) AS BIGINT) AS floor_p,
        | l_partkey % 7 AS m7,
        | CAST(round(sqrt(l_quantity)*1000000) AS BIGINT) AS sqrt6,
        | CAST(round(l_quantity*l_quantity*100) AS BIGINT) AS sq_c
        |FROM lineitem WHERE l_orderkey <= 100 ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_events_agg" ->
      """SELECT event_type, count(*) AS n, CAST(round(sum(value)*100) AS BIGINT) AS sum_v_c,
        | min(user_id) AS min_u, max(user_id) AS max_u
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_events_hour" ->
      """SELECT (epoch_ns(ts) // 3600000000000) % 24 AS hour, count(*) AS n,
        | CAST(round(sum(value)*100) AS BIGINT) AS sum_v_c
        |FROM events GROUP BY 1 ORDER BY hour""".stripMargin,
    "q_events_window10m" ->
      """SELECT (epoch_ns(ts) // 600000000000) * 600 AS ws, count(*) AS n,
        | CAST(round(sum(value)*100) AS BIGINT) AS sum_v_c
        |FROM events GROUP BY 1 ORDER BY ws""".stripMargin,
    "q_events_seq" ->
      """SELECT user_id, CAST(rn AS INT) AS rn, event_id
        |FROM (SELECT user_id, event_id,
        |        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |      FROM events) s
        |WHERE rn <= 3 ORDER BY user_id, rn""".stripMargin,
  )
}
