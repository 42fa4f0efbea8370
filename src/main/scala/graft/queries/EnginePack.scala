package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine._
import Q._

/**
 * End-to-end engine contract queries: each one drives the REAL write/read
 * path (createTopic → produce → consume) against a fresh temp warehouse and
 * surfaces the result as a DataFrame whose expected content is re-derivable
 * in plain SQL from the input table — so the DuckDB oracle independently
 * checks the engine's core contracts:
 *
 *  - `q_producer_ids`: dense per-partition EventIDs
 *    (`/root/reference/src/DefaultPartitionManager.cpp:398-409`);
 *  - `q_producer_selector`: metadata-driven partition selection (X2);
 *  - `q_consumer_ack`: acknowledge cursor = id+1 and at-least-once resume
 *    (`DefaultPartitionManager.cpp:506-514`).
 */
object EnginePack extends QueryPack {

  private[queries] def tempDriver(s: SparkSession): GraftDriver = {
    val dir = Files.createTempDirectory("graft-engine-q")
    EnginePack.cleanupOnExit(dir)
    new GraftDriver(s, dir.toString)
  }

  /** Engine queries copy the events table into scratch warehouses; clean
    * them up when the JVM exits so repeated runs don't accumulate. */
  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val hookInstalled: Unit = sys.addShutdownHook {
    tempDirs.forEach { dir =>
      try {
        import java.nio.file.{Files => F}
        import scala.jdk.CollectionConverters._
        F.walk(dir).iterator().asScala.toSeq.reverse.foreach(p => F.deleteIfExists(p))
      } catch { case _: Throwable => () }
    }
  }
  private def cleanupOnExit(dir: java.nio.file.Path): Unit = {
    hookInstalled
    tempDirs.add(dir): Unit
  }

  /** Unique memory-sink names across repeated in-JVM runs (bench iterations). */
  private val streamRun = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Drain an append-mode stream through the exactly-once FILE sink and
    * read the result back through its `_spark_metadata` manifest (r18,
    * VERDICT item 4): the memory sink collects EVERY batch's rows to the
    * driver — fine at demo scale, an unbounded driver hazard at 100 TB.
    * The parquet stream sink writes per-trigger files and commits them to
    * the sink manifest; a batch read over the same path lists exactly the
    * committed files, so the graded rows are identical (the read applies
    * the stream frame's own schema — a zero-row drain yields an empty
    * frame, not a schema-inference error). Returns the read-back frame
    * plus the drained query (for progress-derived assertions). */
  private def drainToFiles(sdf: DataFrame, tag: String)
      : (DataFrame, org.apache.spark.sql.streaming.StreamingQuery) = {
    val out = Files.createTempDirectory(s"graft-$tag-out")
    cleanupOnExit(out)
    val ckpt = Files.createTempDirectory(s"graft-$tag-ckpt")
    cleanupOnExit(ckpt)
    val q = sdf.writeStream.format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    (sdf.sparkSession.read.schema(sdf.schema).parquet(out.toString), q)
  }

  /** State sizing at stream birth: a Structured Streaming query pins its
    * state-store partition count to `spark.sql.shuffle.partitions` at the
    * FIRST checkpoint and never re-scales it, so the width must be chosen
    * for the stream's key cardinality — it is not a tunable the engine can
    * fix later. A stream-stream join keeps four stores per state partition,
    * each paying a commit (delta file + fsync) EVERY micro-batch whether or
    * not the partition saw rows; inheriting the batch width (32) makes a
    * ~100-key demo stream pay 128 store commits per trigger for nothing.
    * Scope the width to the streaming section only — batch planning around
    * it keeps the session's width. At 100 TB the same knob is sized UP at
    * birth (state keys / target partition size), which this helper expresses
    * directly. */
  private def withStreamWidth[T](s: SparkSession, n: Int)(body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** events table → (metadata `{"eid":<event_id>}`, partition eid%4), in
    * event_id push order — makes engine-assigned ids SQL-predictable.
    * Push order rides the explicit `__order` column (r17): produce()'s
    * per-partition write window orders by it directly, so the batch no
    * longer needs the global SORT (a range exchange + sample pass per
    * produce) the previous `.orderBy(event_id)` form paid just to pin
    * `__ord` — identical id assignment, one less shuffle per produce. */
  private def sourceByEid(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(to_json(struct(col("event_id").as("eid"))).as("metadata"),
        pmod(col("event_id"), lit(4)).cast("int").as("partition"),
        col("event_id").as("__order"))

  /** [[sourceByEid]] restricted to `lo <= event_id < hi` — same rows, same
    * order, same engine-id assignment as filtering the full source (the
    * range lands on the RAW event_id column, pushable to the scan). */
  private def sourceByEidRange(s: SparkSession, dir: String,
                               lo: Long, hi: Long): DataFrame =
    t(s, dir, "events")
      .filter(col("event_id") >= lo && col("event_id") < hi)
      .select(to_json(struct(col("event_id").as("eid"))).as("metadata"),
        pmod(col("event_id"), lit(4)).cast("int").as("partition"),
        col("event_id").as("__order"))

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_producer_ids" -> { (s, dir) =>
      val d = tempDriver(s)
      d.createTopic("ids_demo", partitions = 4)
      val topic = d.openTopic("ids_demo")
      topic.producer().produce(sourceByEid(s, dir))
      topic.events()
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("cnt"), min(col("event_id")).as("min_id"),
          max(col("event_id")).as("max_id"),
          countDistinct(col("event_id")).as("n_distinct"))
        .orderBy(col("partition"))
    },
    "q_producer_selector" -> { (s, dir) =>
      val d = tempDriver(s)
      d.createTopic("sel_demo", partitions = 4,
        selector = PartitionSelector.FieldMod("$.k"))
      val topic = d.openTopic("sel_demo")
      // no explicit partition column: the topic's own selector routes rows
      topic.producer().produce(
        t(s, dir, "events").select(col("props").as("metadata")))
      topic.events()
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("cnt"),
          countDistinct(get_json_object(col("metadata"), "$.k")).as("n_keys"))
        .orderBy(col("partition"))
    },
    "q_source_scan" -> { (s, dir) =>
      // DSv2 source path: produce, then read back via format("graft") with a
      // pushed id-range filter; checks the custom reader end to end.
      val d = tempDriver(s)
      d.createTopic("dsv2_demo", partitions = 4)
      val topic = d.openTopic("dsv2_demo")
      topic.producer().produce(sourceByEid(s, dir))
      s.read.format("graft")
        .option("warehouse", d.warehouse).option("topic", "dsv2_demo")
        .load()
        .filter(col("event_id") >= 10)
        .select(col("partition"), col("event_id").as("engine_id"),
          get_json_object(col("metadata"), "$.eid").cast("long").as("eid"))
        .orderBy(col("partition"), col("engine_id"))
    },
    "q_limit_pushdown" -> { (s, dir) =>
      // Top-N pushdown (SupportsPushDownTopN): ORDER BY event_id LIMIT n
      // caps every partition's planned id window at n — dense ids make the
      // first n ids per partition a superset of the global top-n, so a
      // LIMIT on a huge topic plans a handful of ids and one chunk file
      // per partition (LimitPushdownSpec asserts the windows; this grades
      // the values through the capped path).
      val d = tempDriver(s)
      d.createTopic("limit_demo", partitions = 4)
      d.openTopic("limit_demo").producer().produce(sourceByEid(s, dir))
      s.read.format("graft")
        .option("warehouse", d.warehouse).option("topic", "limit_demo").load()
        .orderBy(col("event_id")).limit(10)
        .select(col("event_id"))
    },
    "q_agg_pushdown" -> { (s, dir) =>
      // Complete aggregate pushdown (SupportsPushDownAggregates): ids are
      // dense [0, watermark) per partition — no row-dropping op has run —
      // so COUNT and MAX(event_id) grouped by partition are answered from
      // watermark ARITHMETIC: two small metadata reads, zero file IO,
      // O(1) at any topic size (AggPushdownSpec asserts the plan and the
      // purge fallback; this grades the values through the pushed path).
      val d = tempDriver(s)
      d.createTopic("aggpd_demo", partitions = 4)
      d.openTopic("aggpd_demo").producer().produce(sourceByEid(s, dir))
      s.read.format("graft")
        .option("warehouse", d.warehouse).option("topic", "aggpd_demo").load()
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("cnt"), max(col("event_id")).as("max_id"))
        .orderBy(col("partition"))
    },
    "q_colocated_join" -> { (s, dir) =>
      // Reported layout (SupportsReportPartitioning): both topics share the
      // engine's partition scheme, so the per-partition summaries AND the
      // join on partition ride KeyGroupedPartitioning — zero data exchanges
      // in the whole query (PartitioningSpec asserts the plan; this grades
      // the values through that path). The confs scope to planning: the
      // physical plan is pinned inside the scope, and the final orderBy is
      // presentation.
      val d = tempDriver(s)
      for (t <- Seq("colo_a", "colo_b")) d.createTopic(t, partitions = 4)
      d.openTopic("colo_a").producer().produce(sourceByEid(s, dir))
      d.openTopic("colo_b").producer().produce(sourceByEidRange(s, dir, 0, 500))
      def load(t: String) = s.read.format("graft")
        .option("warehouse", d.warehouse).option("topic", t).load()
      val prev = (s.conf.get("spark.sql.sources.v2.bucketing.enabled", "false"),
        s.conf.get("spark.sql.autoBroadcastJoinThreshold"))
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        // SUM on both sides keeps them un-pushable: a COUNT/MIN/MAX-only
        // aggregate would answer from watermark arithmetic instead
        // (q_agg_pushdown grades that path) and lose the reported layout
        val a = load("colo_a").groupBy(col("partition"))
          .agg(count(lit(1)).as("cnt_a"), sum(col("event_id")).as("sum_a"))
        val b = load("colo_b").groupBy(col("partition"))
          .agg(count(lit(1)).as("cnt_b"), sum(col("event_id")).as("sum_b"))
        val out = a.join(b, Seq("partition")).orderBy(col("partition"))
        out.queryExecution.executedPlan // pin the storage-partitioned plan
        out
      } finally {
        s.conf.set("spark.sql.sources.v2.bucketing.enabled", prev._1)
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev._2)
      }
    },
    "q_meta_file" -> { (s, dir) =>
      // `_file` metadata column (SupportsMetadataColumns): chunk-file
      // lineage per event, emitted as a per-file CONSTANT by the reader.
      // Chunk rotation is deterministic — a produce writes each partition's
      // rows id-sorted in one task, rolling every chunkMaxRecords — so each
      // file covers exactly one id block, and the oracle re-derives every
      // per-file aggregate from id arithmetic alone. Grouping by the real
      // file paths (then mapping min_id→chunk ordinal) grades that rows
      // REALLY came from the files the rotation promised: a misaligned
      // split or a row surfaced from the wrong file breaks the counts.
      // fixed 1024-event slice: the lineage semantics are granularity-,
      // not volume-, sensitive, and an unbounded produce at 16 rows/chunk
      // would mint O(source/16) tiny files — a fixture artifact, not a
      // scan cost (sf0.1 = ~37k files, ~99s of file creation)
      val d = tempDriver(s)
      d.createTopic("filecol_demo", partitions = 4)
      val topic = d.openTopic("filecol_demo")
      topic.producer(chunkMaxRecords = 16).produce(sourceByEidRange(s, dir, 0, 1024))
      s.read.format("graft")
        .option("warehouse", d.warehouse).option("topic", "filecol_demo").load()
        .groupBy(col("partition"), col("_file"))
        .agg(count(lit(1)).as("cnt"), min(col("event_id")).as("min_id"),
          max(col("event_id")).as("max_id"))
        .select(col("partition"), floor(col("min_id") / 16).as("chunk"),
          col("cnt"), col("min_id"), col("max_id"))
        .orderBy(col("partition"), col("chunk"))
    },
    "q_topic_broadcast" -> { (s, dir) =>
      // Reported scan statistics (SupportsReportStatistics): event ids are
      // dense per partition, so the pushed slice's row count is EXACT
      // watermark arithmetic and its byte size a footer-sampled estimate —
      // Catalyst auto-broadcasts the topic side of this join with no hint
      // anywhere (the decision that matters at 100 TB: a small slice of a
      // huge topic still broadcasts). ScanStatsSpec asserts the plan shape;
      // this grades the join RESULT through the stats-planned path.
      val d = tempDriver(s)
      d.createTopic("stats_demo", partitions = 4)
      val topic = d.openTopic("stats_demo")
      topic.producer().produce(sourceByEid(s, dir))
      val slice = s.read.format("graft")
        .option("warehouse", d.warehouse).option("topic", "stats_demo").load()
        .filter(col("event_id") < 25)
        .select(col("partition"),
          get_json_object(col("metadata"), "$.eid").cast("long").as("eid"))
      val ev = t(s, dir, "events")
        .select(col("event_id").as("eid"), col("value"))
      slice.join(ev, "eid")
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("cnt"),
          sum(round(col("value") * 100).cast("long")).as("sum_cents"))
        .orderBy(col("partition"))
    },
    "q_sql_catalog" -> { (s, dir) =>
      // C1/C3 through the SQL surface (SURVEY §2.2): the TableCatalog
      // plugin makes topics SQL tables — CREATE TABLE is createTopic, the
      // catalog-qualified SELECT runs the same DSv2 scan as
      // format("graft"), so this shares q_source_scan's oracle verbatim.
      // A unique catalog name per run: Spark caches catalog instances by
      // name, and every bench iteration gets a fresh scratch warehouse.
      val d = tempDriver(s)
      val cat = s"graftsql${EnginePack.streamRun.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", d.warehouse)
      s.sql(s"CREATE TABLE $cat.sqlcat_demo TBLPROPERTIES (partitions '4')")
      d.openTopic("sqlcat_demo").producer().produce(sourceByEid(s, dir))
      s.sql(
        s"""SELECT partition, event_id AS engine_id,
           |  CAST(get_json_object(metadata, '$$.eid') AS BIGINT) AS eid
           |FROM $cat.sqlcat_demo WHERE event_id >= 10
           |ORDER BY partition, engine_id""".stripMargin)
    },
    "q_sql_meta" -> { (s, dir) =>
      // Iceberg-style metadata tables: `topic$partitions` is the
      // describe() surface from pure SQL — per-partition watermark (event
      // count) and registered chunk-file count, both DRIVER-BOUNDED
      // relations at any log size (versions fold, partitions are config,
      // vectors are maintained). The oracle re-derives the watermarks from
      // the engine's dense-id contract; n_files is bench-stable because
      // one produce writes exactly one chunk per partition here.
      val d = tempDriver(s)
      val cat = s"graftsql${EnginePack.streamRun.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", d.warehouse)
      s.sql(s"CREATE TABLE $cat.meta_demo TBLPROPERTIES (partitions '4')")
      d.openTopic("meta_demo").producer().produce(sourceByEid(s, dir))
      s.sql(
        s"""SELECT partition, n_events, n_files, completed
           |FROM $cat.`meta_demo$$partitions` ORDER BY partition""".stripMargin)
    },
    "q_sql_insert" -> { (s, dir) =>
      // The SQL WRITE surface: INSERT INTO through the TableCatalog runs
      // one produce() (driver-linearized ids, validator, selector — the
      // identical commit path as the engine API). Inserted event_id values
      // are engine-assigned, so the result is graded ORDER-FREE per
      // partition: dense ids mean min=0, max=cnt-1, distinct=cnt, and the
      // eid sum is assignment-order independent.
      val d = tempDriver(s)
      val cat = s"graftsql${EnginePack.streamRun.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", d.warehouse)
      s.sql(s"CREATE TABLE $cat.sqlins_demo TBLPROPERTIES (partitions '4')")
      val view = s"sqlins_src_${EnginePack.streamRun.incrementAndGet()}"
      sourceByEid(s, dir).createOrReplaceTempView(view)
      s.sql(
        s"""INSERT INTO $cat.sqlins_demo
           |SELECT partition, 0L AS event_id, metadata, CAST(NULL AS BINARY) AS data
           |FROM $view""".stripMargin)
      s.sql(
        s"""SELECT partition, count(*) AS cnt, min(event_id) AS min_id,
           |  max(event_id) AS max_id,
           |  sum(CAST(get_json_object(metadata, '$$.eid') AS BIGINT)) AS eid_sum
           |FROM $cat.sqlins_demo GROUP BY partition ORDER BY partition""".stripMargin)
    },
    "q_clone_guard" -> { (s, dir) =>
      // Clone-aware physical deletion: while a shallow clone lives, every
      // file-deleting surface on the SOURCE refuses loudly naming the
      // clone; vectored (merge-on-read) deletes stay allowed; the guard
      // releases the moment the clone materializes, and the then-legal
      // compact physically folds the vectors. Graded on the source's
      // final rows plus the observed guard transitions.
      val d = tempDriver(s)
      d.createTopic("guard_src", partitions = 4)
      val src = d.openTopic("guard_src")
      src.producer().produce(sourceByEidRange(s, dir, 0, 256))
      d.cloneTopic("guard_src", "guard_dup")
      val eid = get_json_object(col("metadata"), "$.eid").cast("long")
      val refused =
        (try { src.compact(); false }
         catch { case e: IllegalStateException => e.getMessage.contains("guard_dup") }) &&
        (try { d.dropTopic("guard_src"); false }
         catch { case e: IllegalStateException => e.getMessage.contains("guard_dup") })
      src.deleteWhereVectored(pmod(eid, lit(8)) === 0): Unit // allowed: no files move
      d.openTopic("guard_dup").restoreArchive(): Unit        // materialize
      val released = d.catalog.liveClones("guard_src").isEmpty
      src.compact() // now legal; physically folds the vectors
      val cloneIntact =
        d.openTopic("guard_dup").events().count() == 256L // clone unaffected
      src.events()
        .select(col("partition"), eid.as("k"))
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_eid"))
        .withColumn("refused", lit(refused))
        .withColumn("released", lit(released))
        .withColumn("clone_intact", lit(cloneIntact))
        .orderBy(col("partition"))
    },
    "q_sql_update" -> { (s, dir) =>
      // Row-level SQL UPDATE (same delta write as MERGE): matched rows are
      // vector-tombstoned and re-produced with the new metadata at the
      // partition tail — O(matched), zero chunk files rewritten. Graded on
      // metadata-derived values per partition (ids reassign on re-produce).
      val d = tempDriver(s)
      val cat = s"graftsql${EnginePack.streamRun.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", d.warehouse)
      d.createTopic("upd_demo", partitions = 4)
      d.openTopic("upd_demo").producer().produce(sourceByEidRange(s, dir, 0, 512))
      s.sql(
        s"""UPDATE $cat.upd_demo
           |SET metadata = to_json(named_struct(
           |  'eid', CAST(get_json_object(metadata, '$$.eid') AS BIGINT), 'u', 1L))
           |WHERE CAST(get_json_object(metadata, '$$.eid') AS BIGINT) % 7 = 0
           |""".stripMargin)
      s.sql(
        s"""SELECT partition, count(*) AS cnt,
           |  sum(CAST(get_json_object(metadata, '$$.eid') AS BIGINT)) AS eid_sum,
           |  sum(CAST(coalesce(get_json_object(metadata, '$$.u'), '0') AS BIGINT)) AS n_upd
           |FROM $cat.upd_demo GROUP BY partition ORDER BY partition""".stripMargin)
    },
    "q_producer_concurrent" -> { (s, dir) =>
      // MULTI-WRITER produce serialization: two producers in two threads
      // interleave four produce() commits each, arbitrated by the produce
      // lock's bounded wait (the reference serializes writers server-side
      // in the partition manager's write queue,
      // DefaultPartitionManager.cpp:398-409). Graded on the outcome the
      // lock guarantees: dense per-partition ids (min 0, max cnt-1,
      // distinct = cnt) and ZERO lost or duplicated events regardless of
      // commit interleaving (eid sums are assignment-order independent).
      val d = tempDriver(s)
      d.createTopic("conc_demo", partitions = 4)
      val topic = d.openTopic("conc_demo")
      // catalog-scoped (NOT the JVM-global var): the patience pin must not
      // leak into other fixtures' catalogs evaluated concurrently
      d.catalog.setConfOverride("spark.graft.produce.lockWaitMs", "120000")
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val failed = new java.util.concurrent.atomic.AtomicReference[Throwable]()
        val tasks = (0 until 2).map { writer =>
          pool.submit(new Runnable {
            override def run(): Unit =
              try (0 until 4).foreach { b =>
                val lo = (b * 2 + writer) * 64L
                topic.producer().produce(sourceByEidRange(s, dir, lo, lo + 64)): Unit
              } catch { case t: Throwable => failed.compareAndSet(null, t): Unit }
          })
        }
        tasks.foreach(_.get(240, java.util.concurrent.TimeUnit.SECONDS))
        if (failed.get() != null) throw failed.get()
      } finally {
        // a wedged writer must not outlive the fixture holding the produce
        // lock into later queries
        pool.shutdownNow(): Unit
        d.catalog.clearConfOverride("spark.graft.produce.lockWaitMs")
      }
      val eid = get_json_object(col("metadata"), "$.eid").cast("long")
      topic.events()
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("cnt"), countDistinct(col("event_id")).as("n_ids"),
          min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"),
          sum(eid).as("eid_sum"))
        .orderBy(col("partition"))
    },
    "q_producer_multi" -> { (s, dir) =>
      // CONCURRENT multi-producer ingest through the oracle (the
      // reference's many-clients-per-partition shape,
      // ProviderImpl.hpp:137-160): two producers in two threads
      // interleave produce() commits with NO lock-wait override — the
      // reservation-intent protocol itself arbitrates (ids reserved
      // under a brief lock, data written unlocked into per-intent
      // staging, commits applied in reservation order), so the writers'
      // data phases genuinely overlap instead of serializing on the
      // topic lock. Graded on the invariants the protocol guarantees:
      // dense per-partition ids, both writers' payload sets present
      // exactly once (eid sums are interleaving-independent), zero
      // leftover intents, and a gap-free id space.
      val d = tempDriver(s)
      d.createTopic("multi_demo", partitions = 4)
      val topic = d.openTopic("multi_demo")
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val failed = new java.util.concurrent.atomic.AtomicReference[Throwable]()
        val tasks = (0 until 2).map { writer =>
          pool.submit(new Runnable {
            override def run(): Unit =
              try (0 until 2).foreach { b =>
                val lo = (b * 2 + writer) * 128L
                topic.producer().produce(sourceByEidRange(s, dir, lo, lo + 128)): Unit
              } catch { case t: Throwable => failed.compareAndSet(null, t): Unit }
          })
        }
        tasks.foreach(_.get(240, java.util.concurrent.TimeUnit.SECONDS))
        if (failed.get() != null) throw failed.get()
      } finally pool.shutdownNow(): Unit
      val eid = get_json_object(col("metadata"), "$.eid").cast("long")
      topic.events()
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("cnt"), countDistinct(col("event_id")).as("n_ids"),
          min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"),
          sum(eid).as("eid_sum"))
        .withColumn("intents_clean",
          lit(d.catalog.listProduceIntents("multi_demo").isEmpty))
        .withColumn("gap_free", lit(!d.catalog.mayHaveIdGaps("multi_demo")))
        .orderBy(col("partition"))
    },
    "q_sql_merge" -> { (s, dir) =>
      // SQL MERGE INTO through the row-level-operation surface: matched
      // rows are vector-tombstoned and re-produced (update) or tombstoned
      // outright (delete action), unmatched source rows produce fresh
      // events — one produce commit + one vector-delete commit under a
      // crash-atomic merge intent, zero chunk files rewritten. The INSERT
      // action deliberately OMITS `partition`: the NULL stages through and
      // the topic's metadata_field_mod selector assigns eid % 4 at produce
      // time (X1/X2 selection on every ingest path — the oracle's eid % 4
      // grouping grades the selector routing, not a literal). Graded per
      // partition on metadata-derived values (ids are engine-reassigned on
      // re-produce, so id order is not part of the contract; the updated
      // flag and eid sums are).
      val d = tempDriver(s)
      val cat = s"graftsql${EnginePack.streamRun.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", d.warehouse)
      d.createTopic("merge_demo", partitions = 4,
        selector = PartitionSelector.FieldMod("$.eid"))
      d.openTopic("merge_demo").producer().produce(sourceByEidRange(s, dir, 0, 512))
      val view = s"merge_src_${EnginePack.streamRun.incrementAndGet()}"
      t(s, dir, "events")
        .filter(col("event_id") >= 256 && col("event_id") < 640)
        .select(col("event_id").as("eid"),
          to_json(struct(col("event_id").as("eid"), lit(1L).as("u"))).as("md"),
          to_json(struct(col("event_id").as("eid"))).as("md_ins"))
        .createOrReplaceTempView(view)
      s.sql(
        s"""MERGE INTO $cat.merge_demo tgt
           |USING $view c
           |ON get_json_object(tgt.metadata, '$$.eid') = CAST(c.eid AS STRING)
           |WHEN MATCHED AND c.eid % 5 = 0 THEN DELETE
           |WHEN MATCHED THEN UPDATE SET metadata = c.md
           |WHEN NOT MATCHED THEN INSERT (partition, event_id, metadata, data)
           |  VALUES (CAST(NULL AS INT), -1L, c.md_ins, NULL)
           |""".stripMargin)
      s.sql(
        s"""SELECT partition, count(*) AS cnt,
           |  sum(CAST(get_json_object(metadata, '$$.eid') AS BIGINT)) AS eid_sum,
           |  sum(CAST(coalesce(get_json_object(metadata, '$$.u'), '0') AS BIGINT)) AS n_upd
           |FROM $cat.merge_demo GROUP BY partition ORDER BY partition""".stripMargin)
    },
    "q_consumer_ack" -> { (s, dir) =>
      val d = tempDriver(s)
      d.createTopic("ack_demo", partitions = 4)
      val topic = d.openTopic("ack_demo")
      topic.producer().produce(sourceByEid(s, dir))
      // acknowledge event 9 on every partition → cursor 10 (id+1)
      (0 until 4).foreach(p => d.catalog.acknowledge("ack_demo", "acker", p, 9L))
      topic.consumer("acker").events()
        .select(col("partition"), col("event_id").as("engine_id"),
          get_json_object(col("metadata"), "$.eid").cast("long").as("eid"))
        .orderBy(col("partition"), col("engine_id"))
    },
    "q_consumer_lag" -> { (s, dir) =>
      // monitoring surface: per-partition lag = watermark − committed
      // cursor; partition p acknowledges up to id 10·(p+1)−1 → cursor
      // 10·(p+1), so every row shows a different, provable lag
      val d = tempDriver(s)
      d.createTopic("lag_demo", partitions = 4)
      val topic = d.openTopic("lag_demo")
      topic.producer().produce(sourceByEid(s, dir))
      (0 until 4).foreach(p =>
        d.catalog.acknowledge("lag_demo", "lagger", p, 10L * (p + 1) - 1))
      topic.lag("lagger").orderBy(col("partition"))
    },
    "q_producer_validated" -> { (s, dir) =>
      // F2: schema-validated produce — a batch containing invalid rows
      // aborts atomically (nothing lands); the valid subset then lands whole.
      val d = tempDriver(s)
      d.createTopic("val_demo", partitions = 2, validator = Validator.SchemaValidator(
        """{"type":"object","required":["k"],
          | "properties":{"k":{"type":"integer","minimum":0,"maximum":69}}}""".stripMargin))
      val topic = d.openTopic("val_demo")
      // deterministic cap (oracle applies the same slice): the contract is
      // the abort/land behavior, not volume — two full-table produces at
      // bench sf would measure demo scaffolding, not the engine
      val all = t(s, dir, "events").orderBy(col("event_id")).limit(2048)
        .select(col("props").as("metadata"))
      val rejected =
        try { topic.producer().produce(all); false }
        catch { case _: Exception => true }
      val landedAfterAbort = topic.events().count()
      topic.producer().produce(
        all.filter(get_json_object(col("metadata"), "$.k").cast("long") <= 69))
      topic.events()
        .agg(count(lit(1)).as("n_valid"),
          countDistinct(get_json_object(col("metadata"), "$.k").cast("long")).as("n_keys"))
        .select(lit(rejected && landedAfterAbort == 0L).as("batch_aborted"),
          col("n_valid"), col("n_keys"))
    },
    "q_recovery" -> { (s, dir) =>
      // S10: delete the manifest log (the id watermark) between two
      // produces — next ids rebuild from the log itself, so ids stay dense
      // across the loss.
      val d = tempDriver(s)
      d.createTopic("rec_demo", partitions = 4)
      val topic = d.openTopic("rec_demo")
      val src = sourceByEid(s, dir)
      val eid = get_json_object(col("metadata"), "$.eid").cast("long")
      topic.producer().produce(src.filter(pmod(eid, lit(2)) === 0))
      val manifest = new org.apache.hadoop.fs.Path(d.catalog.topicPath("rec_demo"), "_manifest")
      manifest.getFileSystem(s.sparkContext.hadoopConfiguration).delete(manifest, true): Unit
      topic.producer().produce(src.filter(pmod(eid, lit(2)) === 1))
      topic.events()
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("cnt"), min(col("event_id")).as("min_id"),
          max(col("event_id")).as("max_id"),
          countDistinct(col("event_id")).as("n_distinct"))
        .orderBy(col("partition"))
    },
    "q_producer_batched" -> { (s, dir) =>
      // S1-S3 through the oracle: the buffered push() surface with a fixed
      // client batch (auto-flush on full buffer) + a final explicit flush;
      // ids must come out dense in push order, and every pending future
      // must resolve to its id
      val d = tempDriver(s)
      d.createTopic("push_demo", partitions = 2)
      val topic = d.openTopic("push_demo")
      // deterministic cap: the push loop is definitionally driver-side (the
      // reference's client surface), so its demo cost must not scale with sf
      // — the contract (dense ids, resolved futures, auto-flush) is
      // per-partition, not volume; the oracle applies the same LIMIT slice
      val rows = t(s, dir, "events")
        .filter(get_json_object(col("props"), "$.k").cast("long") < 2)
        .orderBy(col("event_id"))
        .limit(512)
        .select(col("props"), pmod(col("event_id"), lit(2)).cast("int").as("p"))
        .collect()
      // scale-aware client batch: ~4 auto-flushes at every sf, so the
      // auto-flush path fires at the graded scale without the per-flush
      // job count exploding at bench scale
      val producer = topic.producer(batchSize = Some(math.max(64, rows.length / 4)))
      val pending = rows.map(r => producer.push(r.getString(0), partition = Some(r.getInt(1))))
      producer.flush()
      val resolved = pending.forall(_.isCompleted)
      topic.events()
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("cnt"), min(col("event_id")).as("min_id"),
          max(col("event_id")).as("max_id"),
          countDistinct(col("event_id")).as("n_distinct"))
        .withColumn("futures_resolved", lit(resolved))
        .orderBy(col("partition"))
    },
    "q_txn_produce" -> { (s, dir) =>
      // Kafka-transactions analog through the oracle: a plain producer, a
      // committed transaction (two produces — commit must be atomic across
      // both), and an aborted transaction share one log; read_committed
      // must show exactly plain ∪ committed, and nothing before commit.
      val d = tempDriver(s)
      d.createTopic("txn_demo", partitions = 2)
      val topic = d.openTopic("txn_demo")
      val eid = get_json_object(col("metadata"), "$.eid").cast("long")
      val src = t(s, dir, "events")
        .select(to_json(struct(col("event_id").as("eid"))).as("metadata"),
          pmod(col("event_id"), lit(2)).cast("int").as("partition"),
          col("event_id").as("__order"))
      topic.producer().produce(src.filter(pmod(eid, lit(3)) === 0))
      val ta = topic.beginTransaction("ta")
      ta.produce(src.filter(pmod(eid, lit(6)) === 1))
      ta.produce(src.filter(pmod(eid, lit(6)) === 4))
      val tb = topic.beginTransaction("tb")
      tb.produce(src.filter(pmod(eid, lit(3)) === 2))
      // only the plain rows are visible while both transactions are open
      val preCommit = topic.events("read_committed").count()
      ta.commit(); tb.abort()
      val logTotal = topic.events("read_uncommitted").count()
      topic.events("read_committed")
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("cnt"),
          count(when(pmod(eid, lit(3)) === 0, 1)).as("n_plain"),
          count(when(pmod(eid, lit(3)) === 1, 1)).as("n_committed_txn"),
          count(when(pmod(eid, lit(3)) === 2, 1)).as("n_aborted_txn"))
        .withColumn("visible_before_commit", lit(preCommit))
        .withColumn("log_total", lit(logTotal))
        .orderBy(col("partition"))
    },
    "q_txn_multi" -> { (s, dir) =>
      // MULTI-STATEMENT transaction through the oracle (produce + delete
      // under ONE visibility point — the upsert-txn shape): a committed
      // transaction brings new rows in and deletes stale ones atomically,
      // while an aborted transaction's produce AND staged delete leave no
      // trace. Falsifiable on every edge: read_committed BEFORE the commit
      // must show every plain row (staged deletes unapplied) and none of
      // the produced; a leaked abort zeroes n_plain_kept; a non-atomic
      // commit breaks visible_before_commit or n_deleted_visible.
      val d = tempDriver(s)
      d.createTopic("txn_multi", partitions = 2)
      val topic = d.openTopic("txn_multi")
      val eid = get_json_object(col("metadata"), "$.eid").cast("long")
      val src = t(s, dir, "events")
        .select(to_json(struct(col("event_id").as("eid"))).as("metadata"),
          pmod(col("event_id"), lit(2)).cast("int").as("partition"),
          col("event_id").as("__order"))
      topic.producer().produce(src.filter(pmod(eid, lit(3)) === 0))
      val up = topic.beginTransaction("up")
      up.produce(src.filter(pmod(eid, lit(3)) === 1))
      val staged = up.deleteWhere(pmod(eid, lit(6)) === 0)
      // plain rows only: produced rows invisible, staged deletes unapplied
      val preCommit = topic.events("read_committed").count()
      val no = topic.beginTransaction("no")
      no.produce(src.filter(pmod(eid, lit(3)) === 2))
      no.deleteWhere(pmod(eid, lit(6)) === 3): Unit // staged, then discarded
      no.abort()
      up.commit()
      val deletedTotal = d.catalog.deletedCountsByPartition("txn_multi").values.sum
      topic.events("read_committed")
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("cnt"),
          count(when(pmod(eid, lit(6)) === 3, 1)).as("n_plain_kept"),
          count(when(pmod(eid, lit(3)) === 1, 1)).as("n_upserted"),
          count(when(pmod(eid, lit(3)) === 2, 1)).as("n_aborted_txn"),
          count(when(pmod(eid, lit(6)) === 0, 1)).as("n_deleted_visible"))
        .withColumn("visible_before_commit", lit(preCommit))
        .withColumn("staged_deletes", lit(staged))
        .withColumn("deleted_total", lit(deletedTotal))
        .orderBy(col("partition"))
    },
    "q_txn_admin" -> { (s, dir) =>
      // Transaction ADMIN listing through the oracle (the
      // kafka-transactions.sh list/describe analog): one row per record
      // with its state and recorded work — the operator's view for
      // "what is wedging my read_committed stream". Falsifiable: a lost
      // range breaks n_events/n_ranges, a lost staging breaks
      // n_staged_deletes, a lost floor entry breaks n_offset_entries,
      // any state drift breaks the state column. eid%4 classes land on
      // one partition each (eid parity decides), so every produce
      // records exactly one range.
      val d = tempDriver(s)
      d.createTopic("txadmin", partitions = 2)
      val topic = d.openTopic("txadmin")
      val eid = get_json_object(col("metadata"), "$.eid").cast("long")
      val src = t(s, dir, "events")
        .select(to_json(struct(col("event_id").as("eid"))).as("metadata"),
          pmod(col("event_id"), lit(2)).cast("int").as("partition"),
          col("event_id").as("__order"))
      val ok = topic.beginTransaction("ok")
      ok.produce(src.filter(pmod(eid, lit(4)) === 0)); ok.commit()
      val ab = topic.beginTransaction("ab")
      ab.produce(src.filter(pmod(eid, lit(4)) === 1)); ab.abort()
      val op = topic.beginTransaction("op")
      op.produce(src.filter(pmod(eid, lit(4)) === 2))
      op.deleteWhere(pmod(eid, lit(8)) === 2): Unit // matches own rows only
      op.sendOffsets("txadmin", "g", Map(0 -> 7L))
      // graded through the SQL surface (CALL cat.system.transactions) so
      // the oracle pins the SQL-only operator path, not just the handle
      // API — both return the same rows (transactionRows is shared)
      val cat = s"graftsql${EnginePack.streamRun.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", d.warehouse)
      s.sql(s"CALL $cat.system.transactions('txadmin')")
        .select(col("txn_id"), col("state"), col("n_events"), col("n_ranges"),
          col("n_staged_deletes"), col("n_offset_entries"))
        .orderBy(col("txn_id"))
    },
    "q_txn_timeout" -> { (s, dir) =>
      // Transaction TIMEOUT + debris purge through the oracle (Kafka's
      // transaction.timeout.ms + the coordinator's janitor work): an
      // ABANDONED open transaction first wedges read_committed readers
      // (wedged_count shows plain rows only), auto-aborts once idle past
      // spark.graft.txn.timeoutMs at the next maintainTopic pass — no
      // manual intervention — and a later maintain past the debris
      // retention physically reclaims its rows and record, so the
      // exclusion set is bounded by construction. Falsifiable on every
      // edge: a missed auto-abort flips auto_aborted false (and a commit
      // would still wedge released_count); a leaked abort shows in
      // n_hung_visible; an over-eager purge of YOUNG debris flips
      // debris_retained; a purge that misses rows breaks log_after_purge.
      val d = tempDriver(s)
      d.createTopic("txn_to", partitions = 2)
      val topic = d.openTopic("txn_to")
      val eid = get_json_object(col("metadata"), "$.eid").cast("long")
      val src = t(s, dir, "events")
        .select(to_json(struct(col("event_id").as("eid"))).as("metadata"),
          pmod(col("event_id"), lit(2)).cast("int").as("partition"),
          col("event_id").as("__order"))
      topic.producer().produce(src.filter(pmod(eid, lit(3)) === 0))
      topic.beginTransaction("hung").produce(src.filter(pmod(eid, lit(3)) === 1)): Unit
      val wedged = topic.events("read_committed").count() // plain only
      // catalog-SCOPED override: a session-global spark.conf.set would
      // leak a 1ms janitor horizon into every other catalog this session
      // touches in the window (registry fixtures may share the session)
      d.catalog.setConfOverride("spark.graft.txn.timeoutMs", "1")
      try {
        Thread.sleep(50) // exceed the (compressed) liveness horizon
        d.catalog.maintainTopic("txn_to"): Unit // janitor pass 1: auto-abort
        val autoAborted = d.catalog.txnState("txn_to", "hung").exists(_.state == "aborted")
        val released = topic.events("read_committed").count()
        // young debris survives the pass (default retention horizon)
        val debrisRetained = d.catalog.listTxns("txn_to").contains("hung")
        val logBefore = topic.events("read_uncommitted").count()
        d.catalog.setConfOverride("spark.graft.txn.abortedRetainMs", "0")
        d.catalog.setConfOverride("spark.graft.txn.maxAbortedRecords", "0")
        d.catalog.maintainTopic("txn_to"): Unit // janitor pass 2: purge
        val logAfter = topic.events("read_uncommitted").count()
        val recordGone = !d.catalog.listTxns("txn_to").contains("hung")
        topic.events("read_committed")
          .groupBy(col("partition"))
          .agg(count(lit(1)).as("cnt"),
            count(when(pmod(eid, lit(3)) === 1, 1)).as("n_hung_visible"))
          .withColumn("wedged_count", lit(wedged))
          .withColumn("released_count", lit(released))
          .withColumn("log_before_purge", lit(logBefore))
          .withColumn("log_after_purge", lit(logAfter))
          .withColumn("auto_aborted", lit(autoAborted))
          .withColumn("debris_retained", lit(debrisRetained))
          .withColumn("record_purged", lit(recordGone))
          .orderBy(col("partition"))
      } finally {
        d.catalog.clearConfOverride("spark.graft.txn.timeoutMs")
        d.catalog.clearConfOverride("spark.graft.txn.abortedRetainMs")
        d.catalog.clearConfOverride("spark.graft.txn.maxAbortedRecords")
      }
    },
    "q_txn_purge_tiered" -> { (s, dir) =>
      // Tiered-topic transaction-debris reclaim through the oracle: log
      // rewrites refuse on tiered topics, so the janitor converts aged
      // decided-dead ranges to DELETION VECTORS (merge-on-read, zero
      // chunk files touched) and then removes the records. Falsifiable
      // on every edge: a conversion that misses rows shows in
      // n_aborted_visible (the graded read is read_UNCOMMITTED — vectors,
      // not exclusion, must hide the rows), a leaked record flips
      // record_purged, an over-eager removal of the committed record
      // flips committed_kept, any chunk-file rewrite flips cold_intact,
      // and a purge that silently fell back to exclusion-only flips
      // vectors_present.
      val d = tempDriver(s)
      d.createTopic("txn_tier", partitions = 2)
      val topic = d.openTopic("txn_tier")
      val eid = get_json_object(col("metadata"), "$.eid").cast("long")
      val src = t(s, dir, "events")
        .select(to_json(struct(col("event_id").as("eid"))).as("metadata"),
          pmod(col("event_id"), lit(2)).cast("int").as("partition"),
          col("event_id").as("__order"))
      topic.producer().produce(src.filter(pmod(eid, lit(3)) === 0))
      // archive the plain prefix: the topic now has a real cold tier
      topic.archiveBefore(d.catalog.nextIds("txn_tier").values.max): Unit
      val ok = topic.beginTransaction("ok")
      ok.produce(src.filter(pmod(eid, lit(3)) === 1)); ok.commit()
      val ab = topic.beginTransaction("ab")
      ab.produce(src.filter(pmod(eid, lit(3)) === 2)); ab.abort()
      def coldFiles: Int = topic.tierState.map { ts =>
        d.catalog.tierFilesRel("txn_tier", ts).map(_.count().toInt).getOrElse(0) +
          ts.files.values.map(_.size).sum
      }.getOrElse(0)
      val coldBefore = coldFiles
      d.catalog.setConfOverride("spark.graft.txn.abortedRetainMs", "0")
      d.catalog.setConfOverride("spark.graft.txn.maxAbortedRecords", "0")
      try d.catalog.maintainTopic("txn_tier"): Unit
      finally {
        d.catalog.clearConfOverride("spark.graft.txn.abortedRetainMs")
        d.catalog.clearConfOverride("spark.graft.txn.maxAbortedRecords")
      }
      val recs = d.catalog.listTxns("txn_tier")
      topic.events("read_uncommitted")
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("cnt"),
          count(when(pmod(eid, lit(3)) === 1, 1)).as("n_committed"),
          count(when(pmod(eid, lit(3)) === 2, 1)).as("n_aborted_visible"))
        .withColumn("record_purged", lit(!recs.contains("ab")))
        .withColumn("committed_kept",
          lit(recs.get("ok").exists(_.state == "committed")))
        .withColumn("cold_intact",
          lit(coldBefore > 0 && coldFiles == coldBefore))
        .withColumn("vectors_present",
          lit(d.catalog.deleteVectorFiles("txn_tier").nonEmpty))
        .orderBy(col("partition"))
    },
    "q_source_committed" -> { (s, dir) =>
      // isolation=read_committed on the DSv2 scan (Kafka isolation.level)
      // through the oracle: plain rows (eid%4=0) and a committed
      // transaction's rows (eid%4=1) are visible; an aborted (eid%4=2)
      // and a still-open (eid%4=3) transaction's rows are not. The
      // groupBy count also exercises the disabled watermark-arithmetic
      // shortcut — pushed aggregates must really scan under isolation
      // (arithmetic would count all four classes).
      val d = tempDriver(s)
      d.createTopic("iso_demo", partitions = 2)
      val topic = d.openTopic("iso_demo")
      val eid = get_json_object(col("metadata"), "$.eid").cast("long")
      val src = t(s, dir, "events")
        .select(to_json(struct(col("event_id").as("eid"))).as("metadata"),
          pmod(col("event_id"), lit(2)).cast("int").as("partition"),
          col("event_id").as("__order"))
      topic.producer().produce(src.filter(pmod(eid, lit(4)) === 0))
      val ok = topic.beginTransaction("ok")
      ok.produce(src.filter(pmod(eid, lit(4)) === 1)); ok.commit()
      val ab = topic.beginTransaction("ab")
      ab.produce(src.filter(pmod(eid, lit(4)) === 2)); ab.abort()
      topic.beginTransaction("open")
        .produce(src.filter(pmod(eid, lit(4)) === 3)): Unit
      val committed = s.read.format("graft")
        .option("warehouse", d.warehouse).option("topic", "iso_demo")
        .option("isolation", "read_committed").load()
      val logTotal = s.read.format("graft")
        .option("warehouse", d.warehouse).option("topic", "iso_demo")
        .load().count() // default read_uncommitted: the raw log
      committed
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("cnt"),
          count(when(pmod(eid, lit(4)) === 0, 1)).as("n_plain"),
          count(when(pmod(eid, lit(4)) === 1, 1)).as("n_committed"),
          count(when(pmod(eid, lit(4)) >= 2, 1)).as("n_excluded"))
        .withColumn("log_total", lit(logTotal))
        .orderBy(col("partition"))
    },
    "q_txn_cross" -> { (s, dir) =>
      // CROSS-TOPIC transaction through the oracle (Kafka transactions
      // span topics): one committed transaction produces to its own topic
      // AND a foreign one — one coordinator flip publishes both logs'
      // rows together — while an aborted transaction's foreign produce
      // stays invisible forever. Falsifiable: a premature flip breaks
      // visible_before_feed, a leaked abort adds eid%4==3 rows to the
      // feed groups, a lost remote share drops the eid%4==2 rows.
      val d = tempDriver(s)
      d.createTopic("coord", partitions = 2)
      d.createTopic("feed", partitions = 2)
      val coord = d.openTopic("coord"); val feed = d.openTopic("feed")
      val eid = get_json_object(col("metadata"), "$.eid").cast("long")
      val src = t(s, dir, "events")
        .select(to_json(struct(col("event_id").as("eid"))).as("metadata"),
          pmod(shiftright(col("event_id"), 2), lit(2)).cast("int").as("partition"),
          col("event_id").as("__order"))
      feed.producer().produce(src.filter(pmod(eid, lit(4)) === 0))
      val a = coord.beginTransaction("a")
      a.produce(src.filter(pmod(eid, lit(4)) === 1))
      a.produceTo("feed", src.filter(pmod(eid, lit(4)) === 2))
      val b = coord.beginTransaction("b")
      b.produceTo("feed", src.filter(pmod(eid, lit(4)) === 3))
      val visibleBefore = feed.events("read_committed").count() // plain only
      b.abort(); a.commit()
      coord.events("read_committed")
        .select(lit("coord").as("topic"), col("partition"), eid.as("k"))
        .unionByName(feed.events("read_committed")
          .select(lit("feed").as("topic"), col("partition"), eid.as("k")))
        .groupBy(col("topic"), col("partition"))
        .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_eid"))
        .withColumn("visible_before_feed", lit(visibleBefore))
        .orderBy(col("topic"), col("partition"))
    },
    "q_txn_offsets" -> { (s, dir) =>
      // THE exactly-once consume-transform-produce loop through the
      // oracle (Kafka sendOffsetsToTransaction): pull the first 64 events
      // per partition from the source topic, produce them to the output
      // topic, and commit the consumer's cursor floors WITH the
      // transaction — output visibility and cursor advance are ONE atomic
      // flip. Falsifiable: a premature cursor breaks cursor_before, a
      // non-atomic flip breaks visible_before, a lost floor breaks
      // cursor_p0/p1, a duplicated or dropped row breaks cnt/sum_eid.
      val d = tempDriver(s)
      d.createTopic("src", partitions = 2)
      d.createTopic("dst", partitions = 2)
      val src = d.openTopic("src"); val dst = d.openTopic("dst")
      val eid = get_json_object(col("metadata"), "$.eid").cast("long")
      src.producer().produce(t(s, dir, "events")
        .select(to_json(struct(col("event_id").as("eid"))).as("metadata"),
          pmod(col("event_id"), lit(2)).cast("int").as("partition"),
          col("event_id").as("__order")))
      // the "processed batch": dense ids make event_id < 64 exactly the
      // first 64 events of each partition (= the 64 smallest source eids
      // of that parity, produce preserving input order)
      val batch = src.events().filter(col("event_id") < 64)
        .select(col("metadata"), col("partition"))
      val tx = dst.beginTransaction("loop")
      tx.produce(batch)
      tx.sendOffsets("src", "g", Map(0 -> 63L, 1 -> 63L))
      val cursorBefore = d.catalog.cursor("src", "g").values.sum
      val visibleBefore = dst.events("read_committed").count()
      tx.commit()
      val cur = d.catalog.cursor("src", "g")
      dst.events("read_committed")
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("cnt"), sum(eid).as("sum_eid"))
        .withColumn("cursor_before", lit(cursorBefore))
        .withColumn("visible_before", lit(visibleBefore))
        .withColumn("cursor_p0", lit(cur.getOrElse(0, 0L)))
        .withColumn("cursor_p1", lit(cur.getOrElse(1, 0L)))
        .orderBy(col("partition"))
    },
    "q_producer_idempotent" -> { (s, dir) =>
      // Kafka enable.idempotence analog through the oracle: a retried batch
      // lands at most once (original ranges returned), a sequence gap and a
      // zombie epoch fail loudly, and the log stays dense with exactly one
      // copy of every row.
      val d = tempDriver(s)
      d.createTopic("idem_demo", partitions = 2)
      val topic = d.openTopic("idem_demo")
      val src = t(s, dir, "events")
        .select(to_json(struct(col("event_id").as("eid"))).as("metadata"),
          pmod(col("event_id"), lit(2)).cast("int").as("partition"),
          col("event_id").as("__order"))
      val eid = get_json_object(col("metadata"), "$.eid").cast("long")
      // (eid div 2) % 2 splits each partition's rows across both batches
      val half = pmod(shiftright(eid, 1), lit(2))
      val p = topic.idempotentProducer("app", epoch = 1L)
      val s0 = src.filter(half === 0)
      val r0 = p.produce(s0, 0L)
      val deduped = p.produce(s0, 0L) == r0 // retry: same ranges, no new rows
      p.produce(src.filter(half === 1), 1L)
      val gapRejected =
        try { p.produce(s0.limit(1), 5L); false }
        catch { case _: IllegalStateException => true }
      val fenced =
        try { topic.idempotentProducer("app", epoch = 0L).produce(s0.limit(1), 2L); false }
        catch { case _: IllegalStateException => true }
      topic.events()
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("cnt"), min(col("event_id")).as("min_id"),
          max(col("event_id")).as("max_id"),
          countDistinct(col("event_id")).as("n_distinct"))
        .withColumn("retry_deduped", lit(deduped))
        .withColumn("gap_rejected", lit(gapRejected))
        .withColumn("zombie_fenced", lit(fenced))
        .orderBy(col("partition"))
    },
    "q_tiered" -> { (s, dir) =>
      // Tiered storage through the oracle: the first produce's chunk files
      // move to the cold tier, production continues hot, and the union view
      // (engine consumer AND the DSv2 source) must be indistinguishable
      // from an un-tiered topic — dense ids, every row, both tiers.
      val d = tempDriver(s)
      d.createTopic("tier_demo", partitions = 2)
      val topic = d.openTopic("tier_demo")
      val eid = get_json_object(col("metadata"), "$.eid").cast("long")
      val src = t(s, dir, "events")
        .select(to_json(struct(col("event_id").as("eid"))).as("metadata"),
          pmod(col("event_id"), lit(2)).cast("int").as("partition"),
          col("event_id").as("__order"))
      val half = pmod(shiftright(eid, 1), lit(2))
      topic.producer().produce(src.filter(half === 0))
      val cutoff = d.catalog.nextIds("tier_demo").values.max
      val report = topic.archiveBefore(cutoff)
      topic.producer().produce(src.filter(half === 1))
      // threshold-agnostic counts: past driverMaxEntries the manifest/tier
      // entries live in parquet relations and the in-memory maps hold only
      // deltas — count through the relation-aware helpers
      val hotFiles = d.catalog.manifestFileCounts("tier_demo",
        d.catalog.readManifest("tier_demo").get).values.sum.toInt
      val coldFiles = topic.tierState.map { ts =>
        d.catalog.tierFilesRel("tier_demo", ts).map(_.count().toInt).getOrElse(0) +
          ts.files.values.map(_.size).sum
      }.getOrElse(0)
      val dsv2 = s.read.format("graft")
        .option("warehouse", d.warehouse).option("topic", "tier_demo")
        .load().count()
      topic.events()
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("cnt"), min(col("event_id")).as("min_id"),
          max(col("event_id")).as("max_id"),
          countDistinct(col("event_id")).as("n_distinct"))
        .withColumn("cold_files_moved",
          lit(report.filesMoved == 2 && coldFiles == 2 && hotFiles == 2))
        .withColumn("dsv2_total", lit(dsv2))
        .orderBy(col("partition"))
    },
    "q_add_partition" -> { (s, dir) =>
      // C5 through the oracle: grow a 2-partition topic to 3, route new
      // events to the new partition, id spaces stay independent and dense
      val d = tempDriver(s)
      d.createTopic("grow_demo", partitions = 2)
      val topic = d.openTopic("grow_demo")
      val eid = get_json_object(col("metadata"), "$.eid").cast("long")
      val src = sourceByEid(s, dir)
        .withColumn("partition", pmod(eid, lit(2)).cast("int"))
      topic.producer().produce(src)
      val grown = d.addPartition("grow_demo")
      // re-open so the producer sees 3 partitions; explicit requests to 2
      d.openTopic("grow_demo").producer().produce(
        src.filter(pmod(eid, lit(4)) === 1).withColumn("partition", lit(2)))
      topic.events()
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("cnt"), min(col("event_id")).as("min_id"),
          max(col("event_id")).as("max_id"))
        .withColumn("n_partitions", lit(grown))
        .orderBy(col("partition"))
    },
    "q_serializer" -> { (s, dir) =>
      // Z1: non-default serializer persisted in the catalog, rehydrated on
      // open — stored form is base64 (opaque to a raw reader), while every
      // engine surface (consumer view AND the DSv2 reader) decodes
      // transparently back to the logical JSON metadata.
      val d = tempDriver(s)
      d.createTopic("ser_demo", partitions = 2, serializer = Serializer.Base64)
      val topic = d.openTopic("ser_demo")
      topic.producer().produce(sourceByEid(s, dir))
      // raw log bypassing the engine: metadata must NOT be JSON text
      val storedOpaque = s.read.parquet(d.catalog.logPath("ser_demo"))
        .filter(col("metadata").startsWith("{")).count() == 0L
      // DSv2 path decodes through the same rehydrated plugin
      val dsv2 = s.read.format("graft")
        .option("warehouse", d.warehouse).option("topic", "ser_demo").load()
        .agg(count(lit(1)).as("n"),
          count(get_json_object(col("metadata"), "$.eid")).as("n_decoded"))
        .collect()(0)
      val dsv2Decoded = dsv2.getLong(0) > 0 && dsv2.getLong(0) == dsv2.getLong(1)
      topic.events()
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("cnt"),
          countDistinct(get_json_object(col("metadata"), "$.eid").cast("long")).as("n_eids"))
        .withColumn("stored_opaque", lit(storedOpaque))
        .withColumn("dsv2_decoded", lit(dsv2Decoded))
        .orderBy(col("partition"))
    },
    "q_describe" -> { (s, dir) =>
      // ops surface: per-partition event counts / chunk-file counts /
      // completion, assembled from catalog metadata only (no log scan) —
      // the oracle recomputes the counts from the source table
      val d = tempDriver(s)
      d.createTopic("desc_demo", partitions = 4)
      val topic = d.openTopic("desc_demo")
      topic.producer().produce(sourceByEid(s, dir))
      topic.markAsComplete()
      d.openTopic("desc_demo").describe()
        .withColumn("files_registered", col("n_files") >= 1)
        .drop("n_files")
        .orderBy(col("partition"))
    },
    "q_config_checks" -> { (s, dir) =>
      // F6/C1/C2 error contracts as oracle-visible booleans: duplicate
      // create rejected, unknown topic rejected, invalid names rejected,
      // the valid topic still opens — plus a row count proving the engine
      // stayed usable after every rejection
      val d = tempDriver(s)
      d.createTopic("cfg_demo", partitions = 2)
      def rejects(f: => Unit): Boolean =
        try { f; false } catch { case _: Exception => true }
      val dupRejected = rejects(d.createTopic("cfg_demo"))
      val missingRejected = rejects(d.openTopic("no_such_topic"))
      val badNameRejected = rejects(d.createTopic("a/b")) &&
        rejects(d.createTopic("x" * 300))
      val badSelectorRejected = rejects(
        PartitionSelector.fromDescriptor(org.json4s.JObject(
          "type" -> org.json4s.JString("no_such_selector"))))
      // Z1: an unknown serializer type must be a DDL-time error too
      val badSerializerRejected = rejects(
        d.catalog.createTopic(TopicConfig("bad_ser", 1,
          TopicConfig.DefaultValidator, TopicConfig.DefaultSelector,
          org.json4s.JObject("type" -> org.json4s.JString("no_such_serializer")),
          completed = false))) && !d.topicExists("bad_ser")
      val topic = d.openTopic("cfg_demo")
      topic.producer().produce(
        t(s, dir, "events").limit(0).select(col("props").as("metadata")))
      import s.implicits._
      Seq((dupRejected, missingRejected, badNameRejected, badSelectorRejected,
        badSerializerRejected,
        d.listTopics() == Seq("cfg_demo"), d.topicExists("cfg_demo"),
        !d.topicExists("no_such_topic")))
        .toDF("dup_rejected", "missing_rejected", "bad_name_rejected",
          "bad_selector_rejected", "bad_serializer_rejected",
          "list_ok", "exists_ok", "not_exists_ok")
    },
    "q_compact" -> { (s, dir) =>
      // log maintenance: many small produces, then compact — every event
      // and id must survive the rewrite, in fewer files
      val d = tempDriver(s)
      d.createTopic("compact_demo", partitions = 4)
      val topic = d.openTopic("compact_demo")
      val src = sourceByEid(s, dir)
      // 2 separate produces, each hitting EVERY partition (split on an axis
      // orthogonal to the eid%4 partition assignment) → ≥2 chunk files per
      // partition before compaction
      (0 until 2).foreach { b =>
        val eid = get_json_object(col("metadata"), "$.eid").cast("long")
        topic.producer().produce(src.filter(pmod(eid.divide(4).cast("long"), lit(2)) === b))
      }
      val logDir = new org.apache.hadoop.fs.Path(d.catalog.logPath("compact_demo"))
      val fs = logDir.getFileSystem(s.sparkContext.hadoopConfiguration)
      // chunk-file count per partition dir — EVERY partition must collapse,
      // not just partition 0
      def filesPerPartition: Seq[Int] = (0 until 4).map { p =>
        fs.listStatus(new org.apache.hadoop.fs.Path(logDir, s"partition=$p"))
          .count(_.getPath.getName.endsWith(".parquet"))
      }
      val before = filesPerPartition
      topic.compact()
      val collapsed = before.forall(_ > 1) && filesPerPartition.forall(_ == 1)
      topic.events()
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("cnt"), min(col("event_id")).as("min_id"),
          max(col("event_id")).as("max_id"),
          countDistinct(col("event_id")).as("n_distinct"))
        .withColumn("collapsed", lit(collapsed))
        .orderBy(col("partition"))
    },
    "q_alter_validator" -> { (s, dir) =>
      // validator evolution: a topic with committed history (k in 0..99)
      // REFUSES tightening to k <= 69 (full-compatibility check counts the
      // violators), ACCEPTS tightening to k >= 0 (history conforms), and
      // the accepted rules bind future produces (a keyless row aborts, a
      // conforming one lands)
      import s.implicits._
      val d = tempDriver(s)
      d.createTopic("alter_demo", partitions = 2)
      val topic = d.openTopic("alter_demo")
      topic.producer().produce(
        t(s, dir, "events").orderBy(col("event_id")).limit(2048)
          .select(col("props").as("metadata")))
      val strict = Validator.SchemaValidator(
        """{"type":"object","required":["k"],
          | "properties":{"k":{"type":"integer","minimum":0,"maximum":69}}}""".stripMargin)
      val loose = Validator.SchemaValidator(
        """{"type":"object","required":["k"],
          | "properties":{"k":{"type":"integer","minimum":0}}}""".stripMargin)
      val strictRejected =
        try { topic.alterValidator(strict); false }
        catch { case _: IllegalStateException => true }
      val looseAccepted =
        try { topic.alterValidator(loose); true }
        catch { case _: IllegalStateException => false }
      val badAborted =
        try { topic.producer().produce(Seq("""{"q":1}""").toDF("metadata")); false }
        catch { case _: Throwable => true }
      topic.producer().produce(Seq("""{"k":7}""").toDF("metadata"))
      topic.events()
        .agg(count(lit(1)).as("n_events"))
        .select(lit(strictRejected).as("strict_rejected"),
          lit(looseAccepted).as("loose_accepted"),
          lit(badAborted).as("bad_aborted"), col("n_events"))
    },
    "q_mirror" -> { (s, dir) =>
      // incremental topic mirroring (MirrorMaker analog): produce 60% of
      // the stream, mirror, produce the rest, mirror again — the target
      // must hold every event exactly once, per-partition order = (mirror
      // round, source id), and a third idle mirror must copy nothing. The
      // oracle re-derives the target's dense ids from the phase split.
      val d = tempDriver(s)
      d.createTopic("mir_src", partitions = 4)
      d.createTopic("mir_dst", partitions = 4)
      val src = d.openTopic("mir_src")
      val dst = d.openTopic("mir_dst")
      val all = sourceByEid(s, dir)
      val eidM = get_json_object(col("metadata"), "$.eid").cast("long")
      src.producer().produce(all.filter(pmod(eidM, lit(5)) < 3))
      src.mirrorTo(dst)
      src.producer().produce(all.filter(pmod(eidM, lit(5)) >= 3))
      src.mirrorTo(dst)
      val third = src.mirrorTo(dst)
      dst.events()
        .select(col("partition"), col("event_id").as("engine_id"), eidM.as("eid"))
        .withColumn("idle_mirror_empty", lit(third.values.map(_._2).sum == 0L))
        .orderBy(col("partition"), col("engine_id"))
    },
    "q_producer_dlq" -> { (s, dir) =>
      // dead-letter produce: same schema-validated topic as
      // q_producer_validated, but rejects are ROUTED (wrapped verbatim +
      // reason-tagged) to the auto-created DLQ topic instead of aborting
      // the batch. The oracle re-derives both sides' membership from the
      // validity predicate; sum over the ORIGINAL k values proves the
      // wrapped documents survive the round-trip intact.
      val d = tempDriver(s)
      d.createTopic("dlq_demo", partitions = 2, validator = Validator.SchemaValidator(
        """{"type":"object","required":["k"],
          | "properties":{"k":{"type":"integer","minimum":0,"maximum":69}}}""".stripMargin))
      val topic = d.openTopic("dlq_demo")
      topic.produceWithDlq(
        t(s, dir, "events").orderBy(col("event_id")).limit(2048)
          .select(col("props").as("metadata")))
      val main = topic.events()
        .select(get_json_object(col("metadata"), "$.k").cast("long").as("k"),
          lit(true).as("tagged"))
      val dlq = d.openTopic("dlq_demo.dlq").events()
        .select(get_json_object(get_json_object(col("metadata"), "$.original"), "$.k")
            .cast("long").as("k"),
          (get_json_object(col("metadata"), "$.reason") === "validator").as("tagged"))
      main.withColumn("side", lit("main"))
        .unionByName(dlq.withColumn("side", lit("dlq")))
        .groupBy(col("side"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("tagged")).as("tagged"))
        .orderBy(col("side"))
    },
    "q_compact_keys" -> { (s, dir) =>
      // Kafka log compaction (cleanup.policy=compact): keys routed by the
      // topic's own FieldMod selector, ~100 versions per key, then
      // compactByKey keeps only each key's LATEST version and (with
      // dropTombstones) deletes keys whose final version has an empty
      // payload. The oracle re-derives the survivor set — latest source
      // eid per key, tombstone keys excluded — independently.
      val d = tempDriver(s)
      d.createTopic("ckeys_demo", partitions = 4,
        selector = PartitionSelector.FieldMod("$.k"))
      val topic = d.openTopic("ckeys_demo")
      val eid = col("event_id")
      // __order replaces the global sort (r18): routing is FieldMod($.k) —
      // order-independent — and "latest per key" means highest per-partition
      // id, which __order pins to eid order exactly as the sort did
      topic.producer().produce(
        t(s, dir, "events").select(
          to_json(struct(pmod(eid, lit(100)).as("k"), eid.as("eid"))).as("metadata"),
          // an empty payload is a tombstone IF it ends up the key's latest
          when(pmod(eid, lit(7)) === 0, lit(Array.empty[Byte]))
            .otherwise(encode(concat(lit("v"), eid.cast("string")), "UTF-8"))
            .as("data"),
          eid.as("__order")))
      topic.compactByKey(get_json_object(col("metadata"), "$.k").cast("long"),
        dropTombstones = true)
      val k = get_json_object(col("metadata"), "$.k").cast("long")
      val meid = get_json_object(col("metadata"), "$.eid").cast("long")
      topic.events()
        .select(col("partition"), k.as("k"), meid.as("eid"),
          length(col("data")).as("len"))
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("n_keys"), countDistinct(col("k")).as("n_distinct_keys"),
          sum(col("eid")).as("sum_eid"), sum(col("len")).as("sum_len"))
        .orderBy(col("partition"))
    },
    "q_expire" -> { (s, dir) =>
      // retention expiry: ids below the cutoff vanish in every partition,
      // retained ids keep their values, and the produce watermark is
      // untouched (checked against the catalog's next-id map)
      val d = tempDriver(s)
      d.createTopic("expire_demo", partitions = 4)
      val topic = d.openTopic("expire_demo")
      topic.producer().produce(sourceByEid(s, dir))
      val pre = topic.events().groupBy(col("partition")).count().collect()
        .map(r => r.getAs[Int]("partition") -> r.getAs[Long]("count")).toMap
      topic.expire(beforeId = 100L)
      val next = d.catalog.nextIds("expire_demo")
      val intact = (0 until 4).forall(p => next.get(p).contains(pre(p)))
      topic.events()
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("cnt"), min(col("event_id")).as("min_id"),
          max(col("event_id")).as("max_id"),
          countDistinct(col("event_id")).as("n_distinct"))
        .withColumn("watermark_intact", lit(intact))
        .orderBy(col("partition"))
    },
    "q_expire_time" -> { (s, dir) =>
      // time-based retention (Kafka retention.ms analog): metadata carries
      // the source event time (nanos); expire everything before the
      // 60th-percentile timestamp. PREFIX semantics per partition — the
      // oracle re-derives each partition's keep-from boundary independently
      val d = tempDriver(s)
      d.createTopic("expire_t_demo", partitions = 4)
      val topic = d.openTopic("expire_t_demo")
      val src = t(s, dir, "events")
        .select(to_json(struct(col("event_id").as("eid"),
            col("ts").as("tsn"))).as("metadata"),
          pmod(col("event_id"), lit(4)).cast("int").as("partition"),
          col("event_id").as("__order"))
      topic.producer().produce(src)
      // the cutoff a human operator would pass to a retention job: the
      // event time 60% into the stream — two bounded single-row lookups on
      // the SETUP side of the maintenance call, not in any data plan
      val ev = t(s, dir, "events")
      val cutEid = ev.agg(floor(count(lit(1)) * 0.6).cast("long")).head().getLong(0)
      val cutoff = ev.filter(col("event_id") === cutEid)
        .select(col("ts").cast("long")).head().getLong(0)
      topic.expireOlderThan(
        get_json_object(col("metadata"), "$.tsn").cast("long"), lit(cutoff))
      val eid = get_json_object(col("metadata"), "$.eid").cast("long")
      topic.events()
        .select(col("partition"), eid.as("k"))
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_eid"),
          min(col("k")).as("min_eid"), max(col("k")).as("max_eid"))
        .orderBy(col("partition"))
    },
    "q_vacuum" -> { (s, dir) =>
      // orphan-file GC: plant the three debris classes crashed operations
      // leave (an uncommitted chunk past the watermark, a compaction swap
      // dir, a stale atomic-write temp), vacuum, and grade that every
      // orphan is gone, the committed log is untouched (metadata-keyed
      // aggregate matches the source exactly), and the report counts match
      val d = tempDriver(s)
      d.createTopic("vac_demo", partitions = 4)
      val topic = d.openTopic("vac_demo")
      topic.producer().produce(sourceByEid(s, dir))
      val topicPath = d.catalog.topicPath("vac_demo")
      val fs = topicPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      val p0 = new org.apache.hadoop.fs.Path(
        d.catalog.logPath("vac_demo"), "partition=0")
      // (1) an uncommitted chunk: real parquet whose footer ids sit past
      // the watermark — exactly what a produce that died pre-commit leaves
      val committed = fs.listStatus(p0)
        .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
      val scratch = Files.createTempDirectory("graft-vacuum-orphan")
      cleanupOnExit(scratch)
      s.read.parquet(committed.toString).limit(5)
        .withColumn("event_id", col("event_id") + 1000000L)
        .coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(scratch.toString))
        .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
      val orphan = new org.apache.hadoop.fs.Path(p0, "chunk-orphan.parquet")
      org.apache.hadoop.fs.FileUtil.copy(
        fs, part, fs, orphan, false, s.sparkContext.hadoopConfiguration): Unit
      // (2) a crashed compactor's swap dir
      val swapTmp = new org.apache.hadoop.fs.Path(topicPath, "log.compact.tmp")
      fs.mkdirs(swapTmp)
      // (3) a stale atomic-write leftover, aged past the staleness horizon
      val staleTmp = new org.apache.hadoop.fs.Path(topicPath, "._topic.json.tmp")
      val out = fs.create(staleTmp, true)
      try out.write("{}".getBytes) finally out.close()
      fs.setTimes(staleTmp, System.currentTimeMillis() - 24L * 3600 * 1000, -1)
      val rep = topic.vacuum()
      val gone = !fs.exists(orphan) && !fs.exists(swapTmp) && !fs.exists(staleTmp)
      val reportOk = rep.uncommittedChunks == 1 && rep.swapLeftovers == 1 &&
        rep.tmpFiles == 1 && rep.bytesReclaimed > 0
      val eid = get_json_object(col("metadata"), "$.eid").cast("long")
      topic.events()
        .select(col("partition"), eid.as("k"))
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_eid"))
        .withColumn("orphans_gone", lit(gone))
        .withColumn("report_ok", lit(reportOk))
        .orderBy(col("partition"))
    },
    "q_consumer_group" -> { (s, dir) =>
      // balanced consumer group: 3 members over 4 partitions (member 0
      // owns two). Each event must land with exactly ONE member, the union
      // must be the whole log, and per-member populations must equal the
      // static assignment — all re-derived by the oracle from p mod 3
      val d = tempDriver(s)
      d.createTopic("grp_demo", partitions = 4)
      val topic = d.openTopic("grp_demo")
      topic.producer().produce(sourceByEid(s, dir))
      val eid = get_json_object(col("metadata"), "$.eid").cast("long")
      topic.consumerGroup("g", 3).zipWithIndex.map { case (c, i) =>
        c.events().select(lit(i).as("member"), col("partition"), eid.as("k"))
      }.reduce(_.unionByName(_))
        .groupBy(col("member"), col("partition"))
        .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_eid"))
        .orderBy(col("member"), col("partition"))
    },
    "q_consumer_rebalance" -> { (s, dir) =>
      // group resize with offset continuity: a 3-member group commits a
      // distinct cursor per partition (ack through id 10*(p+1)-1), then
      // resizes to 2 members — partitions 2 and 3 change hands and their
      // NEW owners must resume exactly at the migrated cursors (partitions
      // 0/1 keep their owners; the oracle re-derives every member view
      // from the p mod arithmetic and the ack boundaries)
      val d = tempDriver(s)
      d.createTopic("rebal_demo", partitions = 4)
      val topic = d.openTopic("rebal_demo")
      topic.producer().produce(sourceByEid(s, dir))
      (0 until 4).foreach(p =>
        d.catalog.acknowledge("rebal_demo", s"g-${p % 3}", p, 10L * (p + 1) - 1))
      val eid = get_json_object(col("metadata"), "$.eid").cast("long")
      topic.resizeConsumerGroup("g", oldSize = 3, newSize = 2)
        .zipWithIndex.map { case (c, i) =>
          c.events().select(lit(i).as("member"), col("partition"), eid.as("k"))
        }.reduce(_.unionByName(_))
        .groupBy(col("member"), col("partition"))
        .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_eid"))
        .orderBy(col("member"), col("partition"))
    },
    "q_consumer_seek" -> { (s, dir) =>
      // Kafka offsetsForTimes+seek analog: reposition a consumer at the
      // event time 40% into the stream and read forward — the consumer's
      // view must be exactly each partition's suffix from the first
      // at/past-cutoff event (same prefix-boundary rule as q_expire_time,
      // re-derived independently by the oracle)
      val d = tempDriver(s)
      d.createTopic("seek_demo", partitions = 4)
      val topic = d.openTopic("seek_demo")
      topic.producer().produce(t(s, dir, "events")
        .select(to_json(struct(col("event_id").as("eid"),
            col("ts").as("tsn"))).as("metadata"),
          pmod(col("event_id"), lit(4)).cast("int").as("partition"),
          col("event_id").as("__order")))
      val ev = t(s, dir, "events")
      val cutEid = ev.agg(floor(count(lit(1)) * 0.4).cast("long")).head().getLong(0)
      val cutoff = ev.filter(col("event_id") === cutEid)
        .select(col("ts").cast("long")).head().getLong(0)
      // a consumer that already read PAST the seek point: the seek must
      // move its cursor BACKWARD (replay is the point of seeking)
      (0 until 4).foreach(p => d.catalog.acknowledge("seek_demo", "replayer", p, 999999L))
      topic.seekToTime("replayer",
        get_json_object(col("metadata"), "$.tsn").cast("long"), lit(cutoff))
      val eid = get_json_object(col("metadata"), "$.eid").cast("long")
      topic.consumer("replayer").events()
        .select(col("partition"), eid.as("k"))
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_eid"),
          min(col("k")).as("min_eid"))
        .orderBy(col("partition"))
    },
    "q_maintain" -> { (s, dir) =>
      // the cron-job surface end-to-end: three produces fragment every
      // partition, debris is planted, an index exists — ONE maintain()
      // call must compact past the threshold, vacuum the debris, and
      // re-index the compacted layout; the log itself must be untouched
      // (metadata-keyed aggregate vs the source) and pruning must work
      // immediately against the new files
      val d = tempDriver(s)
      d.createTopic("maint_demo", partitions = 4)
      val topic = d.openTopic("maint_demo")
      val src = sourceByEid(s, dir)
      val eidOf = get_json_object(col("metadata"), "$.eid").cast("long")
      (0 until 3).foreach { b =>
        topic.producer().produce(
          src.filter(pmod(eidOf.divide(4).cast("long"), lit(3)) === b))
      }
      topic.refreshIndex("eid_idx", "$.eid")
      val topicPath = d.catalog.topicPath("maint_demo")
      val fs = topicPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      val staleTmp = new org.apache.hadoop.fs.Path(topicPath, "._topic.json.tmp")
      val out = fs.create(staleTmp, true)
      try out.write("{}".getBytes) finally out.close()
      fs.setTimes(staleTmp, System.currentTimeMillis() - 24L * 3600 * 1000, -1)
      val (compacted, vac, indexed) = topic.maintain(maxFilesPerPartition = 2)
      // relation-aware count: the in-memory files map is empty past the
      // driver threshold (entries live in the manifest's parquet relation)
      val filesPerPartition = d.catalog.manifestFileCounts("maint_demo",
        d.catalog.readManifest("maint_demo").get).values
      val maintained = compacted && vac.tmpFiles == 1 && !fs.exists(staleTmp) &&
        indexed == filesPerPartition.sum && filesPerPartition.forall(_ == 1)
      // pruning against the compacted layout: nothing above the watermark
      val pruned = topic.indexScan("eid_idx", 1e12, 2e12).kept == 0
      topic.events()
        .select(col("partition"), eidOf.as("k"))
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_eid"))
        .withColumn("maintained", lit(maintained))
        .withColumn("pruned", lit(pruned))
        .orderBy(col("partition"))
    },
    "q_meta_index" -> { (s, dir) =>
      // zone-map metadata index: range-separated produces give every chunk
      // file a disjoint $.eid zone; the indexed read of a middle window
      // must OPEN fewer files than the log holds (pruned), stay exact for
      // files produced AFTER the refresh (conservative), and the second
      // refresh must index ONLY the new files (incremental). The oracle
      // re-derives the surviving row set from the source table.
      val d = tempDriver(s)
      d.createTopic("idx_demo", partitions = 4)
      val topic = d.openTopic("idx_demo")
      val eidOf = get_json_object(col("metadata"), "$.eid").cast("long")
      val n = t(s, dir, "events").count()
      topic.producer().produce(sourceByEidRange(s, dir, 0, n / 2))
      topic.producer().produce(sourceByEidRange(s, dir, n / 2, n * 3 / 4))
      def liveFiles: Int =
        d.catalog.manifestFileCounts("idx_demo",
          d.catalog.readManifest("idx_demo").get).values.sum.toInt
      val f12 = liveFiles
      val r1 = topic.refreshIndex("eid_idx", "$.eid")
      topic.producer().produce(sourceByEidRange(s, dir, n * 3 / 4, n))
      val f123 = liveFiles
      val lo = (n * 3 / 10).toDouble; val hi = (n * 6 / 10).toDouble
      // stale window: the tail produce is unindexed — scanned conservatively
      val scanStale = topic.indexScan("eid_idx", lo, hi)
      val staleCnt = topic.eventsIndexed("eid_idx", lo, hi).count()
      val r2 = topic.refreshIndex("eid_idx", "$.eid")
      val scanFresh = topic.indexScan("eid_idx", lo, hi)
      // the window ends below the tail produce's range, so a fresh index
      // must prune at least the tail's files
      val pruned = scanFresh.kept < scanFresh.total && scanFresh.kept > 0
      val incrementalOk = r1 == f12 && r2 == f123 - f12 && r2 > 0
      val conservativeOk = scanStale.kept == scanStale.total &&
        staleCnt == (n * 6 / 10) - (n * 3 / 10) + 1
      topic.eventsIndexed("eid_idx", lo, hi)
        .select(col("partition"), eidOf.as("k"))
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_eid"))
        .withColumn("pruned", lit(pruned))
        .withColumn("incremental_ok", lit(incrementalOk))
        .withColumn("conservative_ok", lit(conservativeOk))
        .orderBy(col("partition"))
    },
    "q_meta_index_lang" -> { (s, dir) =>
      // string-kinded zone maps: ingest the documents corpus one language
      // per produce (the natural per-source ingestion layout), index
      // $.lang, and read one language back — the indexed read must open
      // ONLY that language's files (pruned boolean); the surviving rows
      // are oracle-checked against the source filter
      val d = tempDriver(s)
      d.createTopic("lang_demo", partitions = 2)
      val topic = d.openTopic("lang_demo")
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val langs = docs.select("lang").distinct().orderBy("lang")
        .collect().map(_.getString(0)).toSeq
      langs.foreach { lg =>
        // __order pins id assignment to doc_id without the global sort the
        // .orderBy form paid (a range exchange + sample job per language —
        // 3 staging jobs per produce measured, r18); every graded value
        // here is partition-agnostic (counts + per-file lang zones), so
        // the round-robin routing needs no pinned row order
        topic.producer().produce(
          docs.filter(col("lang") === lg)
            .select(to_json(struct(col("doc_id").as("doc"), col("lang")))
              .as("metadata"), col("doc_id").as("__order")))
      }
      topic.refreshIndex("lang_idx", "$.lang", MetadataIndex.Str)
      val scan = topic.indexScanEq("lang_idx", "en")
      val pruned = scan.kept < scan.total && scan.kept > 0
      topic.eventsIndexedEq("lang_idx", "en")
        .select(get_json_object(col("metadata"), "$.doc").cast("long").as("doc"))
        .agg(count(lit(1)).as("cnt"), sum(col("doc")).as("sum_doc"))
        .withColumn("pruned", lit(pruned))
    },
    "q_meta_index_bloom" -> { (s, dir) =>
      // bloom file index vs zone maps on an UNCLUSTERED key: events land
      // in four produces split by user_id mod 4, so every chunk file's
      // [min,max] zone spans nearly the whole id domain — a zone index on
      // $.u must keep ALL files for a median-id lookup (zone_useless),
      // while the bloom index must open only the files that can hold the
      // id (bloom_pruned). Rows are graded against the source filter.
      val d = tempDriver(s)
      d.createTopic("bloom_demo", partitions = 4)
      val topic = d.openTopic("bloom_demo")
      val ev = t(s, dir, "events")
      (0 until 4).foreach { r =>
        topic.producer().produce(
          ev.filter(pmod(col("user_id"), lit(4)) === r)
            .select(col("event_id").as("__order"),
              to_json(struct(col("user_id").as("u"),
              col("event_id").as("eid"))).as("metadata"),
              pmod(col("event_id"), lit(4)).cast("int").as("partition")))
      }
      topic.refreshBloomIndex("u_bloom", "$.u")
      topic.refreshIndex("u_zone", "$.u")
      // lookup target: the median distinct user id — a demo-setup scalar
      // (the id an operator would hand to a lookup job), 150 ids collected
      val uids = ev.select(col("user_id")).distinct().orderBy(col("user_id"))
        .collect().map(_.getLong(0))
      val target = uids(uids.length / 2)
      val bscan = topic.bloomScanEq("u_bloom", target.toString)
      val zscan = topic.indexScan("u_zone", target.toDouble, target.toDouble)
      topic.eventsBloomEq("u_bloom", target.toString)
        .select(get_json_object(col("metadata"), "$.eid").cast("long").as("eid"))
        .agg(count(lit(1)).as("cnt"), sum(col("eid")).as("sum_eid"))
        .withColumn("bloom_pruned", lit(bscan.kept < bscan.total && bscan.kept > 0))
        .withColumn("zone_useless", lit(zscan.kept == zscan.total))
    },
    "q_snapshot" -> { (s, dir) =>
      // reproducible-dataset snapshot: pin the watermark after the first
      // produce; the pinned read must see exactly that produce's rows no
      // matter how much lands afterwards (graded via the metadata keys).
      // Deterministic 4096-row cap (oracle applies the same slice): the
      // contract is the pin boundary, not volume — see q_producer_validated
      val d = tempDriver(s)
      d.createTopic("snap_demo", partitions = 4)
      val topic = d.openTopic("snap_demo")
      val eid = get_json_object(col("metadata"), "$.eid").cast("long")
      topic.producer().produce(sourceByEidRange(s, dir, 0, 2048))
      val snap = topic.snapshot()
      topic.producer().produce(sourceByEidRange(s, dir, 2048, 4096))
      topic.events(snap)
        .select(col("partition"), eid.as("k"))
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_eid"),
          max(col("k")).as("max_eid"))
        .orderBy(col("partition"))
    },
    "q_time_travel" -> { (s, dir) =>
      // VERSION AS OF through the SQL catalog: versions are manifest
      // commits — two produces, then the SQL time-travel read of the FIRST
      // commit must see exactly that produce, however much landed after.
      // The version number is read off history() (DESCRIBE HISTORY analog)
      // rather than hardcoded; history row count and the pinned aggregate
      // are both graded.
      val d = tempDriver(s)
      val cat = s"graftsql${EnginePack.streamRun.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", d.warehouse)
      s.sql(s"CREATE TABLE $cat.tt_demo TBLPROPERTIES (partitions '4')")
      val topic = d.openTopic("tt_demo")
      // cuts sized to the SMALLEST fixture (sf0.001 = 1000 events): a cut
      // past the table's id range would make the second produce EMPTY (no
      // commit, no version) and break the oracle's version count
      topic.producer().produce(sourceByEidRange(s, dir, 0, 512))
      topic.producer().produce(sourceByEidRange(s, dir, 512, 1024))
      val hist = topic.history().orderBy("version").collect()
      val v1 = hist.head.getAs[Long]("version")
      s.sql(
        s"""SELECT partition, count(*) AS cnt,
           |  CAST(sum(CAST(get_json_object(metadata, '$$.eid') AS BIGINT)) AS BIGINT) AS sum_eid,
           |  max(CAST(get_json_object(metadata, '$$.eid') AS BIGINT)) AS max_eid,
           |  CAST(${hist.length} AS BIGINT) AS n_versions
           |FROM $cat.tt_demo VERSION AS OF '$v1'
           |GROUP BY partition ORDER BY partition""".stripMargin)
    },
    "q_snapshot_diff" -> { (s, dir) =>
      // incremental export between two pins: three produces, pin after the
      // first and second — the diff must be EXACTLY the middle produce (the
      // "new data since the last training export" read), reproducible no
      // matter how much lands afterwards
      val d = tempDriver(s)
      d.createTopic("diff_demo", partitions = 4)
      val topic = d.openTopic("diff_demo")
      topic.producer().produce(sourceByEidRange(s, dir, 0, 1024))
      val snap1 = topic.snapshot()
      topic.producer().produce(sourceByEidRange(s, dir, 1024, 3072))
      val snap2 = topic.snapshot()
      topic.producer().produce(sourceByEidRange(s, dir, 3072, 4096))
      val eid = get_json_object(col("metadata"), "$.eid").cast("long")
      topic.events(snap1, snap2)
        .select(col("partition"), eid.as("k"))
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_eid"),
          min(col("k")).as("min_eid"), max(col("k")).as("max_eid"))
        .orderBy(col("partition"))
    },
    "q_history" -> { (s, dir) =>
      // DESCRIBE HISTORY analog: one row per retained commit, graded on
      // the deterministic columns (version numbers, snapshot/delta kinds,
      // id-frontier sizes) — three produces = versions 1..3, the first
      // rolled as the bootstrap snapshot
      val d = tempDriver(s)
      d.createTopic("hist_demo", partitions = 4)
      val topic = d.openTopic("hist_demo")
      topic.producer().produce(sourceByEidRange(s, dir, 0, 256))
      topic.producer().produce(sourceByEidRange(s, dir, 256, 640))
      topic.producer().produce(sourceByEidRange(s, dir, 640, 896))
      topic.history()
        .select(col("version"), col("kind"), col("n_events"))
        .orderBy(col("version"))
    },
    "q_restore" -> { (s, dir) =>
      // RESTORE to a prior commit: the post-v1 tail is compliance-deleted,
      // leaving exactly the v1 corpus; graded like q_snapshot but through
      // the rollback path (purge + manifest rewrite), not a pinned read
      val d = tempDriver(s)
      d.createTopic("restore_demo", partitions = 4)
      val topic = d.openTopic("restore_demo")
      topic.producer().produce(sourceByEidRange(s, dir, 0, 512))
      topic.producer().produce(sourceByEidRange(s, dir, 512, 896))
      val v1 = topic.history().agg(min(col("version"))).collect()(0).getLong(0)
      topic.restoreTo(v1)
      val eid = get_json_object(col("metadata"), "$.eid").cast("long")
      topic.events()
        .select(col("partition"), eid.as("k"))
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_eid"),
          max(col("k")).as("max_eid"))
        .orderBy(col("partition"))
    },
    "q_sql_restore" -> { (s, dir) =>
      // maintenance as SQL: CALL cat.system.restore rolls the topic back
      // to its first commit through the stored-procedure surface (the
      // Iceberg CALL shape) — identical engine path as q_restore, entered
      // from pure SQL; the procedure's summary row is part of the grade
      val d = tempDriver(s)
      val cat = s"graftsql${EnginePack.streamRun.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", d.warehouse)
      s.sql(s"CREATE TABLE $cat.sqlres_demo TBLPROPERTIES (partitions '4')")
      val topic = d.openTopic("sqlres_demo")
      topic.producer().produce(sourceByEidRange(s, dir, 0, 512))
      topic.producer().produce(sourceByEidRange(s, dir, 512, 896))
      val v1 = topic.history().agg(min(col("version"))).collect()(0).getLong(0)
      val res = s.sql(s"CALL $cat.system.restore(topic => 'sqlres_demo', version => $v1)")
        .collect()(0)
      s.sql(
        s"""SELECT partition, count(*) AS cnt,
           |  CAST(sum(CAST(get_json_object(metadata, '$$.eid') AS BIGINT)) AS BIGINT) AS sum_eid,
           |  max(CAST(get_json_object(metadata, '$$.eid') AS BIGINT)) AS max_eid,
           |  CAST(${res.getLong(1)} AS BIGINT) AS restored_to
           |FROM $cat.sqlres_demo
           |GROUP BY partition ORDER BY partition""".stripMargin)
    },
    "q_sql_delete" -> { (s, dir) =>
      // compliance delete from PURE SQL: DELETE FROM through the
      // TableCatalog maps to purgeTopic — the identical lock/rewrite/
      // manifest path as the deleteWhere handle API (q_delete_where), with
      // conservative predicate translation (id-space attributes always;
      // metadata only on default-serializer topics). Survivors graded by
      // (partition, engine id, source eid) — id gaps are the semantic.
      val d = tempDriver(s)
      val cat = s"graftsql${EnginePack.streamRun.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", d.warehouse)
      s.sql(s"CREATE TABLE $cat.sqldel_demo TBLPROPERTIES (partitions '4')")
      d.openTopic("sqldel_demo").producer().produce(sourceByEid(s, dir))
      s.sql(s"DELETE FROM $cat.sqldel_demo WHERE event_id < 10 AND partition IN (1, 3)")
      s.sql(
        s"""SELECT partition, event_id AS engine_id,
           |  CAST(get_json_object(metadata, '$$.eid') AS BIGINT) AS eid
           |FROM $cat.sqldel_demo
           |ORDER BY partition, engine_id""".stripMargin)
    },
    "q_version_diff" -> { (s, dir) =>
      // incremental export addressed BY COMMIT VERSION (the CDC read):
      // three produces = three retained versions; startingVersion v1 +
      // endingVersion v2 through the format options must be EXACTLY the
      // middle produce — the "what's new since the last training export"
      // read, spelled in commits instead of watermark maps
      val d = tempDriver(s)
      d.createTopic("vdiff_demo", partitions = 4)
      val topic = d.openTopic("vdiff_demo")
      // cuts sized to the SMALLEST fixture (sf0.001 has 1000 events): all
      // three produces must be non-empty, or the commit count — and with
      // it the version alignment — would differ by scale factor
      topic.producer().produce(sourceByEidRange(s, dir, 0, 256))
      topic.producer().produce(sourceByEidRange(s, dir, 256, 640))
      topic.producer().produce(sourceByEidRange(s, dir, 640, 896))
      val hs = topic.history().orderBy("version").collect()
        .map(_.getAs[Long]("version"))
      val eid = get_json_object(col("metadata"), "$.eid").cast("long")
      s.read.format("graft")
        .option("warehouse", d.warehouse).option("topic", "vdiff_demo")
        .option("startingVersion", hs(0).toString)
        .option("endingVersion", hs(1).toString).load()
        .select(col("partition"), eid.as("k"))
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_eid"),
          min(col("k")).as("min_eid"), max(col("k")).as("max_eid"))
        .orderBy(col("partition"))
    },
    "q_delete_where" -> { (s, dir) =>
      // compliance delete: purge every event whose metadata eid % 7 == 0;
      // the surviving (metadata-keyed) population must match the oracle's
      // filter of the source table exactly — id gaps are the semantic
      val d = tempDriver(s)
      d.createTopic("purge_demo", partitions = 4)
      val topic = d.openTopic("purge_demo")
      topic.producer().produce(sourceByEid(s, dir))
      val eid = get_json_object(col("metadata"), "$.eid").cast("long")
      topic.deleteWhere(pmod(eid, lit(7)) === 0)
      topic.events()
        .select(col("partition"), eid.as("k"))
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_eid"),
          min(col("k")).as("min_eid"), max(col("k")).as("max_eid"))
        .orderBy(col("partition"))
    },
    "q_delete_vector" -> { (s, dir) =>
      // MERGE-ON-READ compliance delete: two accumulating deletion vectors,
      // zero chunk files rewritten — the DSv2 readers drop vectored ids via
      // per-slice parquet-pruned loads (at 100 TB the delete writes
      // O(matched) instead of rewriting the log, and works on tiered
      // topics). Survivors must match the oracle's filter exactly.
      // fixed 131072-id slice (covers the whole table at sf≤0.01): each
      // vectored delete pays one predicate scan by design — the graded
      // semantics (two accumulating vectors, no rewrite) are volume-
      // independent, and DeleteVectorSpec asserts the no-rewrite shape
      val d = tempDriver(s)
      d.createTopic("delvec_demo", partitions = 4)
      val topic = d.openTopic("delvec_demo")
      topic.producer().produce(sourceByEidRange(s, dir, 0, 131072))
      val eid = get_json_object(col("metadata"), "$.eid").cast("long")
      topic.deleteWhereVectored(pmod(eid, lit(7)) === 0): Unit
      topic.deleteWhereVectored(pmod(eid, lit(11)) === 5): Unit // accumulates
      s.read.format("graft")
        .option("warehouse", d.warehouse).option("topic", "delvec_demo").load()
        .select(col("partition"), eid.as("k"))
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_eid"),
          min(col("k")).as("min_eid"), max(col("k")).as("max_eid"))
        .orderBy(col("partition"))
    },
    "q_table_changes" -> { (s, dir) =>
      // CHANGE DATA FEED (the Delta table_changes analog): produce v1,
      // produce v2, vector-delete (its own commit v3) — then
      // changes(v1, v3) must surface the second produce as inserts (RAW:
      // later-deleted rows still count) and the vectored rows as full
      // delete preimages, each side a pure scan (insert = version-diff id
      // window, delete = root-bounded inverted-filter scan; no joins).
      // Graded per (change_type, partition) against the source table.
      val d = tempDriver(s)
      d.createTopic("cdf_demo", partitions = 4)
      val topic = d.openTopic("cdf_demo")
      topic.producer().produce(sourceByEidRange(s, dir, 0, 256))
      val v1 = topic.history().orderBy("version").collect()
        .map(_.getAs[Long]("version")).last
      topic.producer().produce(sourceByEidRange(s, dir, 256, 640))
      val eid = get_json_object(col("metadata"), "$.eid").cast("long")
      topic.deleteWhereVectored(pmod(eid, lit(7)) === 0): Unit
      val vEnd = topic.history().orderBy("version").collect()
        .map(_.getAs[Long]("version")).last
      topic.changes(v1, vEnd)
        .select(col("_change_type").as("change_type"), col("partition"), eid.as("k"))
        .groupBy(col("change_type"), col("partition"))
        .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_eid"),
          min(col("k")).as("min_eid"), max(col("k")).as("max_eid"))
        .orderBy(col("change_type"), col("partition"))
    },
    "q_sql_changes" -> { (s, dir) =>
      // the change feed from PURE SQL: `SELECT … FROM cat.`t$changes``
      // (Spark 4 CALL procedures are driver-local, so the distributed
      // feed surfaces as a metadata-table read, Iceberg-style). The
      // `_commit_version` WHERE bounds PUSH DOWN into the scan's version
      // window — the plan is identical to readChangeFeed with
      // startingVersion/endingVersion, files pruned by the version-diff
      // id window. Same fixture and oracle as q_table_changes.
      val d = tempDriver(s)
      val cat = s"graftsql${EnginePack.streamRun.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", d.warehouse)
      d.createTopic("cdf_sql", partitions = 4)
      val topic = d.openTopic("cdf_sql")
      topic.producer().produce(sourceByEidRange(s, dir, 0, 256))
      val v1 = topic.history().orderBy("version").collect()
        .map(_.getAs[Long]("version")).last
      topic.producer().produce(sourceByEidRange(s, dir, 256, 640))
      val eid = get_json_object(col("metadata"), "$.eid").cast("long")
      topic.deleteWhereVectored(pmod(eid, lit(7)) === 0): Unit
      val vEnd = topic.history().orderBy("version").collect()
        .map(_.getAs[Long]("version")).last
      s.sql(
        s"""SELECT change_type, partition, count(*) AS cnt,
           |  sum(k) AS sum_eid, min(k) AS min_eid, max(k) AS max_eid
           |FROM (
           |  SELECT _change_type AS change_type, partition,
           |    CAST(get_json_object(metadata, '$$.eid') AS BIGINT) AS k
           |  FROM $cat.`cdf_sql$$changes`
           |  WHERE _commit_version > $v1 AND _commit_version <= $vEnd)
           |GROUP BY change_type, partition
           |ORDER BY change_type, partition""".stripMargin)
    },
    "q_sql_changes_ts" -> { (s, dir) =>
      // the change feed addressed by TIME (how Delta users overwhelmingly
      // address CDF — `startingTimestamp`): `_commit_timestamp` WHERE
      // bounds push down to the SAME clamped version window as
      // `_commit_version` bounds (commit times are lock-serialized, hence
      // monotone — Catalog.versionAtTimestamp), files pruned identically.
      // Fixture = q_sql_changes with the bounds read from history()'s
      // commit times; the sleeps guarantee distinct millisecond mtimes so
      // the time window is exactly the version window. Shares
      // q_sql_changes' oracle (same change set by construction).
      val d = tempDriver(s)
      val cat = s"graftsql${EnginePack.streamRun.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", d.warehouse)
      d.createTopic("cdf_sql_ts", partitions = 4)
      val topic = d.openTopic("cdf_sql_ts")
      topic.producer().produce(sourceByEidRange(s, dir, 0, 256))
      Thread.sleep(15L)
      topic.producer().produce(sourceByEidRange(s, dir, 256, 640))
      val eid = get_json_object(col("metadata"), "$.eid").cast("long")
      topic.deleteWhereVectored(pmod(eid, lit(7)) === 0): Unit
      Thread.sleep(15L)
      val times = topic.history().orderBy("version").collect()
        .map(_.getAs[java.sql.Timestamp]("commit_time"))
      def fmt(t: java.sql.Timestamp): String =
        java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
          .withZone(java.time.ZoneOffset.UTC)
          .format(java.time.Instant.ofEpochMilli(t.getTime))
      val ts1 = fmt(times.head)   // first produce's commit time
      val tsEnd = fmt(times.last) // the vector delete's commit time
      s.sql(
        s"""SELECT change_type, partition, count(*) AS cnt,
           |  sum(k) AS sum_eid, min(k) AS min_eid, max(k) AS max_eid
           |FROM (
           |  SELECT _change_type AS change_type, partition,
           |    CAST(get_json_object(metadata, '$$.eid') AS BIGINT) AS k
           |  FROM $cat.`cdf_sql_ts$$changes`
           |  WHERE _commit_timestamp > TIMESTAMP '$ts1'
           |    AND _commit_timestamp <= TIMESTAMP '$tsEnd')
           |GROUP BY change_type, partition
           |ORDER BY change_type, partition""".stripMargin)
    },
    "q_cdf_ts_prune" -> { (s, dir) =>
      // PRUNING-VISIBLE time-addressed change feed: 8 produces = 8
      // versions over the WHOLE events table, then a `_commit_timestamp`
      // window addressing ONLY the last produce. The pushed bounds
      // resolve to the version-diff id window (strict `>` on the 7th
      // commit's exact ms time — the bound shape that used to throw
      // inside versionAtTimestamp and silently plan the full feed), so
      // the scan plans ~1/8 of the topic's files; at 100 TB that is the
      // difference between reading a version diff and scanning the
      // topic. Graded per partition against the last slice of events.
      val d = tempDriver(s)
      val cat = s"graftsql${EnginePack.streamRun.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", d.warehouse)
      d.createTopic("cdf_ts_prune", partitions = 4)
      val topic = d.openTopic("cdf_ts_prune")
      val total = t(s, dir, "events").count()
      (0 until 8).foreach { i =>
        topic.producer().produce(
          sourceByEidRange(s, dir, i * (total / 8), (i + 1) * (total / 8)))
        Thread.sleep(15L) // distinct ms mtimes: time window == version window
      }
      val times = topic.history().orderBy("version").collect()
        .map(_.getAs[java.sql.Timestamp]("commit_time"))
      def fmt(ts: java.sql.Timestamp): String =
        java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
          .withZone(java.time.ZoneOffset.UTC)
          .format(java.time.Instant.ofEpochMilli(ts.getTime))
      val t7 = fmt(times(times.length - 2)) // 7th produce — strict lower bound
      val t8 = fmt(times.last)              // 8th (last) produce — inclusive upper
      s.sql(
        s"""SELECT partition, count(*) AS cnt, sum(k) AS sum_eid,
           |  min(k) AS min_eid, max(k) AS max_eid
           |FROM (
           |  SELECT partition,
           |    CAST(get_json_object(metadata, '$$.eid') AS BIGINT) AS k
           |  FROM $cat.`cdf_ts_prune$$changes`
           |  WHERE _commit_timestamp > TIMESTAMP '$t7'
           |    AND _commit_timestamp <= TIMESTAMP '$t8')
           |GROUP BY partition
           |ORDER BY partition""".stripMargin)
    },
    "q_clone" -> { (s, dir) =>
      // SHALLOW CLONE: a new topic referencing the source's committed
      // files — O(metadata), zero data copied (the clone's log dir holds
      // no chunk files, asserted via the planner's inventory). Pre-clone
      // vector deletes ride along (copied, O(deleted)); post-clone writes
      // and deletes are isolated BOTH ways: the source gains rows and
      // deletes the clone must not see, the clone gains rows the source
      // must not see. Graded on the CLONE's view per partition.
      val d = tempDriver(s)
      d.createTopic("clone_src", partitions = 4)
      val src = d.openTopic("clone_src")
      src.producer().produce(sourceByEidRange(s, dir, 0, 512))
      val eid = get_json_object(col("metadata"), "$.eid").cast("long")
      src.deleteWhereVectored(pmod(eid, lit(5)) === 0): Unit   // pre-clone
      val clone = d.cloneTopic("clone_src", "clone_dup")
      src.producer().produce(sourceByEidRange(s, dir, 640, 768))    // src-only
      src.deleteWhereVectored(pmod(eid, lit(7)) === 0): Unit        // src-only
      clone.producer().produce(sourceByEidRange(s, dir, 512, 640))  // clone-only
      clone.events()
        .select(col("partition"), eid.as("k"))
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_eid"),
          min(col("k")).as("min_eid"), max(col("k")).as("max_eid"))
        .orderBy(col("partition"))
    },
    "q_row_lineage" -> { (s, dir) =>
      // ROW TRACKING: _commit_version/_commit_timestamp as metadata columns
      // on a NORMAL read — each row attributed to the retained commit that
      // produced it (by id against the version watermarks, the change
      // feed's rule) without switching the scan to CDF semantics. Three
      // produces → three commits; graded per commit RANK (absolute seq
      // numbers are engine-internal).
      val d = tempDriver(s)
      d.createTopic("lineage_demo", partitions = 4)
      val topic = d.openTopic("lineage_demo")
      Seq((0L, 256L), (256L, 512L), (512L, 640L)).foreach { case (lo, hi) =>
        topic.producer().produce(sourceByEidRange(s, dir, lo, hi))
      }
      val eid = get_json_object(col("metadata"), "$.eid").cast("long")
      val byCommit = s.read.format("graft")
        .option("warehouse", d.warehouse).option("topic", "lineage_demo")
        .load()
        .select(col("_commit_version").as("v"), eid.as("k"))
        .groupBy(col("v"))
        .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_eid"),
          min(col("k")).as("min_eid"), max(col("k")).as("max_eid"))
      byCommit
        .withColumn("commit_idx",
          row_number().over(org.apache.spark.sql.expressions.Window.orderBy(col("v"))))
        .select(col("commit_idx"), col("cnt"), col("sum_eid"),
          col("min_eid"), col("max_eid"))
        .orderBy(col("commit_idx"))
    },
    "q_stream_changes" -> { (s, dir) =>
      // STREAMING change data feed: readStream + readChangeFeed=true — the
      // same change semantics as q_table_changes but through the DSv2
      // source, whose offsets carry the emitted-deletes version frontier
      // next to the id cursor. Born at startingVersion v1; an admission cap
      // forces the insert window to drain across several micro-batches
      // while the delete preimages (whose rows predate the id cursor)
      // arrive via the version axis — per-row commit attribution must stay
      // exact under any trigger slicing.
      val d = tempDriver(s)
      d.createTopic("scdf_demo", partitions = 4)
      val topic = d.openTopic("scdf_demo")
      topic.producer().produce(sourceByEidRange(s, dir, 0, 256))
      val v1 = topic.history().orderBy("version").collect()
        .map(_.getAs[Long]("version")).last
      topic.producer().produce(sourceByEidRange(s, dir, 256, 640))
      val eid = get_json_object(col("metadata"), "$.eid").cast("long")
      topic.deleteWhereVectored(pmod(eid, lit(7)) === 0): Unit
      val (drained, _) = EnginePack.drainToFiles(
        s.readStream.format("graft")
          .option("warehouse", d.warehouse).option("topic", "scdf_demo")
          .option("readChangeFeed", "true")
          .option("startingVersion", v1.toString)
          .option("maxEventsPerTrigger", "128")
          .load(),
        "scdf")
      drained
        .select(col("_change_type").as("change_type"), col("partition"), eid.as("k"))
        .groupBy(col("change_type"), col("partition"))
        .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_eid"),
          min(col("k")).as("min_eid"), max(col("k")).as("max_eid"))
        .orderBy(col("change_type"), col("partition"))
    },
    "q_multi_topic" -> { (s, dir) =>
      // multi-topic subscribe: union of two topic logs with a `topic` tag
      val d = tempDriver(s)
      d.createTopic("t_even", partitions = 2)
      d.createTopic("t_odd", partitions = 2)
      val k = get_json_object(col("props"), "$.k").cast("long")
      val src = t(s, dir, "events").select(col("props").as("metadata"), k.as("k"))
      d.openTopic("t_even").producer().produce(
        src.filter(pmod(col("k"), lit(2)) === 0).select("metadata"))
      d.openTopic("t_odd").producer().produce(
        src.filter(pmod(col("k"), lit(2)) === 1).select("metadata"))
      d.events(Seq("t_even", "t_odd"))
        .groupBy(col("topic"))
        .agg(count(lit(1)).as("n"),
          countDistinct(get_json_object(col("metadata"), "$.k").cast("long")).as("n_keys"))
        .orderBy(col("topic"))
    },
    "q_stream_window" -> { (s, dir) =>
      // event-time windowed aggregation through the MICRO-BATCH source (not
      // the batch table): 10-minute tumbling windows over event time parsed
      // from metadata, complete-mode memory sink, AvailableNow drain. Time
      // arithmetic is integer micros end-to-end (timestamp_micros of
      // ts DIV 1000) so window membership can never straddle a double ulp.
      // Deterministic 4096-row cap — the contract is windowing through the
      // stream, not volume.
      val d = tempDriver(s)
      d.createTopic("swin_demo", partitions = 2)
      val topic = d.openTopic("swin_demo")
      val src = t(s, dir, "events").filter(col("event_id") < 4096)
        .select(to_json(struct(col("event_id").as("eid"), col("ts").as("tns"),
          col("event_type").as("et"))).as("metadata"),
          pmod(col("event_id"), lit(2)).cast("int").as("partition"))
      topic.producer().produce(src)
      val qname = s"q_stream_window_${EnginePack.streamRun.incrementAndGet()}"
      EnginePack.withStreamWidth(s, 4) {
          val query = s.readStream.format("graft")
          .option("warehouse", d.warehouse).option("topic", "swin_demo")
          .option("maxEventsPerTrigger", "1024")
          .load()
          .select(get_json_object(col("metadata"), "$.et").as("event_type"),
            expr("timestamp_micros(CAST(get_json_object(metadata, '$.tns') AS BIGINT) DIV 1000)")
              .as("etime"))
          .groupBy(window(col("etime"), "10 minutes"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .writeStream.format("memory").queryName(qname)
          .outputMode("complete")
          .option("checkpointLocation", {
            val ckpt = Files.createTempDirectory("graft-swin-ckpt")
            EnginePack.cleanupOnExit(ckpt)
            ckpt.toString
          })
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        query.awaitTermination()
      }
      s.table(qname)
        .select(unix_micros(col("window.start")).as("w_us"), col("event_type"),
          col("n"))
        .orderBy(col("w_us"), col("event_type"))
    },
    "q_stream_upsert" -> { (s, dir) =>
      // streaming UPSERT: topic → foreachBatch → SQL MERGE into a keyed
      // target (last-writer-wins per key) — the Delta "streaming upsert"
      // composition over the crash-atomic MERGE surface. Wave 2
      // re-produces an overlapping key range, so matched keys update IN
      // PLACE (vector tombstone + re-produce) while fresh keys INSERT with
      // a NULL partition routed by the target's metadata_field_mod
      // selector. Each batch first reduces to its last writer per key
      // (max version — the canonical foreachBatch-MERGE dedup, also what
      // makes MERGE's cardinality check pass), so the final table is
      // identical under ANY admission cadence; per-partition id order
      // additionally guarantees wave 1 never trails wave 2 across batches.
      val d = tempDriver(s)
      val cat = s"graftsql${EnginePack.streamRun.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", d.warehouse)
      d.createTopic("ups_src", partitions = 2)
      d.createTopic("ups_tgt", partitions = 4,
        selector = PartitionSelector.FieldMod("$.k"))
      def wave(lo: Long, hi: Long, v: Int) =
        t(s, dir, "events")
          .filter(col("event_id") >= lo && col("event_id") < hi)
          .select(to_json(struct(col("event_id").as("k"), lit(v).as("v")))
            .as("metadata"),
            pmod(col("event_id"), lit(2)).cast("int").as("partition"),
            col("event_id").as("__order"))
      val srcTopic = d.openTopic("ups_src")
      srcTopic.producer().produce(wave(0, 64, 1))
      srcTopic.producer().produce(wave(32, 96, 2))
      val view = s"ups_batch_${EnginePack.streamRun.incrementAndGet()}"
      EnginePack.withStreamWidth(s, 4) {
        val q = s.readStream.format("graft")
          .option("warehouse", d.warehouse).option("topic", "ups_src")
          .option("maxEventsPerTrigger", "48")
          .load()
          .writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            batch
              .select(get_json_object(col("metadata"), "$.k").cast("long").as("k"),
                get_json_object(col("metadata"), "$.v").cast("long").as("v"),
                col("metadata"))
              .groupBy(col("k"))
              .agg(max_by(col("metadata"), col("v")).as("md"))
              .createOrReplaceTempView(view)
            // foreachBatch hands a per-batch SESSION CLONE: the temp view
            // lives in the clone's catalog, so the MERGE must run there
            batch.sparkSession.sql(
              s"""MERGE INTO $cat.ups_tgt t USING $view c
                 |ON get_json_object(t.metadata, '$$.k') = CAST(c.k AS STRING)
                 |WHEN MATCHED THEN UPDATE SET metadata = c.md
                 |WHEN NOT MATCHED THEN INSERT (partition, event_id, metadata, data)
                 |  VALUES (CAST(NULL AS INT), -1L, c.md, NULL)""".stripMargin)
            ()
          }
          .option("checkpointLocation", {
            val ckpt = Files.createTempDirectory("graft-ups-ckpt")
            EnginePack.cleanupOnExit(ckpt)
            ckpt.toString
          })
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      d.openTopic("ups_tgt").events()
        .select(col("partition"),
          get_json_object(col("metadata"), "$.k").cast("long").as("k"),
          get_json_object(col("metadata"), "$.v").cast("long").as("v"))
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("cnt"), sum(col("k")).as("k_sum"),
          sum(col("v")).as("v_sum"))
        .orderBy(col("partition"))
    },
    "q_stream_pipe" -> { (s, dir) =>
      // topic → stream transform → topic, through BOTH native surfaces at
      // once: the DSv2 micro-batch source feeds a filter/re-route into the
      // graft STREAMING SINK (writeStream.format("graft")) — the
      // MirrorMaker-style curation pipeline shape, exactly-once end to end.
      // After the drain the last micro-batch is replayed verbatim through
      // the sink body (a crash between the sink's produce and Spark's
      // checkpoint commit IS a replay) and must be a no-op: the graded
      // read of the destination topic would double-count otherwise.
      val d = tempDriver(s)
      d.createTopic("pipe_src", partitions = 4)
      d.createTopic("pipe_dst", partitions = 2)
      val eidOf = get_json_object(col("metadata"), "$.eid").cast("long")
      d.openTopic("pipe_src").producer().produce(
        sourceByEidRange(s, dir, 0, 4096))
      val sinkId = s"pipe_${EnginePack.streamRun.incrementAndGet()}"
      EnginePack.withStreamWidth(s, 4) {
        val query = s.readStream.format("graft")
          .option("warehouse", d.warehouse).option("topic", "pipe_src")
          .option("maxEventsPerTrigger", "1024")
          .load()
          .filter(pmod(eidOf, lit(3)) === 0)
          .select(col("metadata"),
            pmod(eidOf, lit(2)).cast("int").as("partition"))
          .writeStream.format("graft")
          .option("warehouse", d.warehouse).option("topic", "pipe_dst")
          .option("sinkId", sinkId)
          .option("checkpointLocation", {
            val ckpt = Files.createTempDirectory("graft-pipe-ckpt")
            EnginePack.cleanupOnExit(ckpt)
            ckpt.toString
          })
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        query.awaitTermination()
      }
      val dst = d.openTopic("pipe_dst")
      // replay the final committed batch id with a poison payload: the
      // sink marker makes it a no-op — nothing lands, or the oracle fails
      val lastBatch = d.catalog.sinkCommit("pipe_dst", sinkId).get
      graft.streaming.GraftSink.produceBatch(dst, sinkId)(
        sourceByEidRange(s, dir, 0, 64), lastBatch)
      dst.events()
        .select(col("partition"), eidOf.as("k"))
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_eid"),
          max(col("k")).as("max_eid"))
        .orderBy(col("partition"))
    },
    "q_stream_multi" -> { (s, dir) =>
      // multi-topic subscribe in STREAMING form (the batch analog is
      // driver.events(Seq(...))): two topics' micro-batch sources unioned
      // into ONE streaming aggregation and drained together — each source
      // keeps its own offsets/admission in the shared checkpoint
      val d = tempDriver(s)
      Seq("smt_a", "smt_b").foreach(d.createTopic(_, partitions = 1))
      val ev = t(s, dir, "events").filter(col("event_id") < 2048)
        .select(col("event_id"),
          to_json(struct(col("event_id").as("eid"),
            col("event_type").as("et"))).as("metadata"))
      d.openTopic("smt_a").producer()
        .produce(ev.filter(col("event_id") % 2 === 0).select(col("metadata")))
      d.openTopic("smt_b").producer()
        .produce(ev.filter(col("event_id") % 2 === 1).select(col("metadata")))
      def src(topic: String, tag: String) = s.readStream.format("graft")
        .option("warehouse", d.warehouse).option("topic", topic)
        .option("maxEventsPerTrigger", "512")
        .load()
        .select(lit(tag).as("topic"),
          get_json_object(col("metadata"), "$.et").as("event_type"))
      val qname = s"q_stream_multi_${EnginePack.streamRun.incrementAndGet()}"
      EnginePack.withStreamWidth(s, 4) {
          val query = src("smt_a", "a").unionByName(src("smt_b", "b"))
          .groupBy(col("topic"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .writeStream.format("memory").queryName(qname)
          .outputMode("complete")
          .option("checkpointLocation", {
            val ckpt = Files.createTempDirectory("graft-smulti-ckpt")
            EnginePack.cleanupOnExit(ckpt)
            ckpt.toString
          })
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        query.awaitTermination()
      }
      s.table(qname).orderBy(col("topic"), col("event_type"))
    },
    "q_stream_dedup" -> { (s, dir) =>
      // ingest-time dedup through the MICRO-BATCH source: stateful
      // dropDuplicatesWithinWatermark on (user_id, event_type) — the
      // streaming curation op that suppresses re-sent events at the door.
      // The 30-day delay exceeds the fixture's whole event-time span, so no
      // state evicts and the emitted set is EXACTLY one row per key (WHICH
      // physical row wins is arrival-order-dependent, so only the key set
      // is emitted and graded); at scale the watermark bounds state to the
      // keys seen per delay window — the documented trade.
      val d = tempDriver(s)
      d.createTopic("sdedup_demo", partitions = 2)
      val topic = d.openTopic("sdedup_demo")
      val src = t(s, dir, "events").filter(col("event_id") < 4096)
        .select(to_json(struct(col("event_id").as("eid"), col("ts").as("tns"),
          col("event_type").as("et"), col("user_id").as("uid"))).as("metadata"),
          pmod(col("event_id"), lit(2)).cast("int").as("partition"))
      topic.producer().produce(src)
      EnginePack.withStreamWidth(s, 4) {
        val (drained, _) = EnginePack.drainToFiles(
          s.readStream.format("graft")
            .option("warehouse", d.warehouse).option("topic", "sdedup_demo")
            .option("maxEventsPerTrigger", "1024")
            .load()
            .select(
              expr("timestamp_micros(CAST(get_json_object(metadata, '$.tns') AS BIGINT) DIV 1000)")
                .as("etime"),
              get_json_object(col("metadata"), "$.uid").cast("long").as("user_id"),
              get_json_object(col("metadata"), "$.et").as("event_type"))
            .withWatermark("etime", "30 days")
            .dropDuplicatesWithinWatermark("user_id", "event_type")
            .select(col("user_id"), col("event_type")),
          "sdedup")
        drained.orderBy(col("user_id"), col("event_type"))
      }
    },
    "q_stream_sessions" -> { (s, dir) =>
      // streaming SESSIONIZATION through the micro-batch source: the native
      // session_window operator (4h inactivity gap — same as the batch
      // q_events_sessions) under a watermark in append mode, so sessions
      // merge across micro-batches in the state store and emit only once
      // the watermark passes their end. Exact because events arrive in
      // event-time order (displacement 0, as q_stream_join), so no session
      // can be reopened by a late row; the produce ends with 2×(admission
      // budget) far-future filler events under sentinel uid -1 — the first
      // filler batch advances the watermark past every real session, the
      // second runs the eviction that emits them (same flush technique as
      // q_stream_outer). Result contract: EXACTLY the batch sessionization
      // of the same slice.
      val d = tempDriver(s)
      d.createTopic("ssess_demo", partitions = 2)
      val topic = d.openTopic("ssess_demo")
      val ev = t(s, dir, "events")
      val src = ev.filter(col("user_id") < 100 && col("event_id") < 4096)
        .select(col("event_id"), col("ts"), col("user_id"))
      val flushTs = ev.agg(max(col("ts"))).head().getLong(0) + 48L * 3600 * 1000000000L
      // 2048/trigger: the ≤4096 real events take TWO micro-batches (state
      // must merge sessions across the boundary — the contract), and the
      // 2×2048 fillers take two more (advance the clock, then evict)
      val withFlush = src.unionByName(s.range(4096).select(
        (lit(9000000L) + col("id")).as("event_id"), lit(flushTs).as("ts"),
        lit(-1L).as("user_id")))
      topic.producer().produce(withFlush
        .select(to_json(struct(col("event_id").as("eid"), col("ts").as("tns"),
          col("user_id").as("uid"))).as("metadata"),
          pmod(col("event_id"), lit(2)).cast("int").as("partition"),
          col("event_id").as("__order")))
      EnginePack.withStreamWidth(s, 4) {
        val (drained, _) = EnginePack.drainToFiles(
          s.readStream.format("graft")
            .option("warehouse", d.warehouse).option("topic", "ssess_demo")
            .option("maxEventsPerTrigger", "2048")
            .load()
            .select(
              expr("timestamp_micros(CAST(get_json_object(metadata, '$.tns') AS BIGINT) DIV 1000)")
                .as("etime"),
              get_json_object(col("metadata"), "$.uid").cast("long").as("user_id"))
            .withWatermark("etime", "1 hour")
            .groupBy(col("user_id"), session_window(col("etime"), "4 hours"))
            .agg(count(lit(1)).as("n"))
            .select(col("user_id"),
              unix_micros(col("session_window.start")).as("start_us"), col("n")),
          "ssess")
        drained
          .filter(col("user_id") >= 0) // drop the filler sessions
          .orderBy(col("user_id"), col("start_us"))
      }
    },
    "q_stream_join" -> { (s, dir) =>
      // stream-stream event-time join through the micro-batch source, under
      // the oracle: clicks ⋈ purchases (same user, purchase within 1h after
      // the click) from two watermarked readers over one topic. Safe to
      // grade exactly: events arrive in event-time order (event_id is
      // ts-ordered in the corpus — verified displacement 0), so the 4h
      // watermark can never evict state a future match still needs, and an
      // inner join emits pairs as they meet — AvailableNow drains them all.
      val d = tempDriver(s)
      d.createTopic("sjoin_demo", partitions = 2)
      val topic = d.openTopic("sjoin_demo")
      val src = t(s, dir, "events")
        .filter(col("user_id") < 100 && col("event_id") < 4096 &&
          col("event_type").isin("click", "purchase"))
        .select(to_json(struct(col("event_id").as("eid"), col("ts").as("tns"),
          col("event_type").as("et"), col("user_id").as("uid"))).as("metadata"),
          pmod(col("event_id"), lit(2)).cast("int").as("partition"))
      topic.producer().produce(src)
      def side(et: String, p: String) = s.readStream.format("graft")
        .option("warehouse", d.warehouse).option("topic", "sjoin_demo")
        .option("maxEventsPerTrigger", "1024")
        .load()
        .select(get_json_object(col("metadata"), "$.et").as("et"),
          get_json_object(col("metadata"), "$.eid").cast("long").as(s"${p}_eid"),
          get_json_object(col("metadata"), "$.uid").cast("long").as(s"${p}_uid"),
          expr("timestamp_micros(CAST(get_json_object(metadata, '$.tns') AS BIGINT) DIV 1000)")
            .as(s"${p}_t"))
        .filter(col("et") === et).drop("et")
        .withWatermark(s"${p}_t", "4 hours")
      EnginePack.withStreamWidth(s, 4) {
        val (drained, _) = EnginePack.drainToFiles(
          side("click", "c").join(side("purchase", "p"),
            col("c_uid") === col("p_uid") &&
              col("p_t") >= col("c_t") &&
              col("p_t") <= col("c_t") + expr("INTERVAL 1 HOUR")),
          "sjoin")
        drained
          .select(col("c_eid"), col("p_eid"))
          .orderBy(col("c_eid"), col("p_eid"))
      }
    },
    "q_stream_state" -> { (s, dir) =>
      // CUSTOM stateful operator through the micro-batch source:
      // mapGroupsWithState keeps a per-user (count, cents-sum) state
      // machine across micro-batches (the KeyValueGroupedDataset surface —
      // arbitrary user state, not a built-in aggregation). Update-mode
      // emissions land per batch; the LAST emission per user (max count —
      // the count strictly grows) must equal the batch aggregate, which
      // the oracle computes directly. Exact: counts are order-free and
      // the cents sum is integer.
      import s.implicits._
      val d = tempDriver(s)
      d.createTopic("sstate_demo", partitions = 2)
      val topic = d.openTopic("sstate_demo")
      val events = t(s, dir, "events")
      // size the admission budget from the fixture: ceil(n/2) drains the
      // whole table in EXACTLY two micro-batches at any scale factor — the
      // minimum that still proves state survives a batch boundary. (A fixed
      // budget is the wrong shape: at sf0.1 it meant 49 micro-batches, each
      // paying state-store + checkpoint overhead for the same contract.)
      val nEvents = events.count()
      topic.producer().produce(
        events
          .select(to_json(struct(col("user_id").as("uid"),
            Q.cents(col("value")).as("cents"))).as("metadata"),
            pmod(col("event_id"), lit(2)).cast("int").as("partition"),
            col("event_id").as("__order")))
      val stream = s.readStream.format("graft")
        .option("warehouse", d.warehouse).option("topic", "sstate_demo")
        .option("maxEventsPerTrigger", ((nEvents + 1) / 2).toString)
        .load()
        .select(get_json_object(col("metadata"), "$.uid").cast("long").as("uid"),
          get_json_object(col("metadata"), "$.cents").cast("long").as("cents"))
        .as[(Long, Long)]
      val updates = stream.groupByKey(_._1)
        .mapGroupsWithState[(Long, Long), (Long, Long, Long)](
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
          case (uid, rows, state) =>
            var (n, sum) = state.getOption.getOrElse((0L, 0L))
            rows.foreach { r => n += 1; sum += r._2 }
            state.update((n, sum))
            (uid, n, sum)
        }
      // update-mode emissions land per batch in parquet (foreachBatch: the
      // file sink is append-only), keeping the driver out of the data path
      // (r18, VERDICT item 4 — the memory sink held O(keys × batches) rows
      // driver-side). A sink-side replay re-appends a batch's rows; the
      // graded read's per-key max(struct) is idempotent to that, the same
      // stance as the memory sink's batch truncation.
      val outDir = Files.createTempDirectory("graft-sstate-out")
      EnginePack.cleanupOnExit(outDir)
      EnginePack.withStreamWidth(s, 4) {
          val query = updates.toDF("uid", "n", "sum_cents")
          .writeStream
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            b.write.mode("append").parquet(outDir.toString)
            ()
          }
          .outputMode("update")
          .option("checkpointLocation", {
            val ckpt = Files.createTempDirectory("graft-sstate-ckpt")
            EnginePack.cleanupOnExit(ckpt)
            ckpt.toString
          })
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        query.awaitTermination()
      }
      s.read.schema("uid BIGINT, n BIGINT, sum_cents BIGINT")
        .parquet(outDir.toString)
        .groupBy(col("uid"))
        .agg(max(struct(col("n"), col("sum_cents"))).as("last"))
        .select(col("uid"), col("last.n").as("n"),
          col("last.sum_cents").as("sum_cents"))
        .orderBy(col("uid"))
    },
    "q_stream_outer" -> { (s, dir) =>
      // LEFT OUTER stream-stream join through the micro-batch source: every
      // click pairs with its within-1h purchases, and clicks with NO such
      // purchase must still emit (null-extended, published as p_eid = -1).
      // Outer emission is watermark-driven — state for a click may only
      // null-emit once the watermark passes its join window — and eviction
      // happens in the batch AFTER the one whose stats advanced the clock,
      // so a single trailing flush row is not enough (its batch is the
      // last; AvailableNow stops before the eviction batch — empirically
      // verified, the tail clicks' null rows never emit). The produce
      // therefore ends with 2×(admission budget) far-future filler events:
      // the first filler batch advances the watermark past every real
      // window, and the REMAINING filler batches (forced by the admission
      // budget) run the evictions — making the result exactly the batch
      // left join. Fillers must SURVIVE the side filters to reach the
      // event-time stats (Catalyst pushes a non-watermark-column filter
      // BELOW the watermark node — empirically a det-filtered flush row
      // never advances the clock), so each side gets its own filler type
      // under sentinel uids (-1/-2) that can never join, and filler state
      // rows are dropped from the published result by the c_eid < 4096
      // guard. Same displacement-0 exactness argument as q_stream_join for
      // the inner pairs.
      val d = tempDriver(s)
      d.createTopic("souter_demo", partitions = 2)
      val topic = d.openTopic("souter_demo")
      val ev = t(s, dir, "events")
      val src = ev
        .filter(col("user_id") < 100 && col("event_id") < 4096 &&
          col("event_type").isin("click", "purchase"))
        .select(col("event_id"), col("ts"), col("event_type"), col("user_id"))
      val flushTs = ev.agg(max(col("ts"))).head().getLong(0) + 48L * 3600 * 1000000000L
      val withFlush = src
        .unionByName(s.range(1024).select(
          (lit(9000000L) + col("id")).as("event_id"), lit(flushTs).as("ts"),
          lit("click").as("event_type"), lit(-1L).as("user_id")))
        .unionByName(s.range(1024).select(
          (lit(9100000L) + col("id")).as("event_id"), lit(flushTs).as("ts"),
          lit("purchase").as("event_type"), lit(-2L).as("user_id")))
      topic.producer().produce(withFlush
        .select(to_json(struct(col("event_id").as("eid"), col("ts").as("tns"),
          col("event_type").as("et"), col("user_id").as("uid"))).as("metadata"),
          pmod(col("event_id"), lit(2)).cast("int").as("partition"),
          col("event_id").as("__order")))
      def side(et: String, p: String) = s.readStream.format("graft")
        .option("warehouse", d.warehouse).option("topic", "souter_demo")
        .option("maxEventsPerTrigger", "1024")
        .load()
        .select(get_json_object(col("metadata"), "$.et").as("et"),
          get_json_object(col("metadata"), "$.eid").cast("long").as(s"${p}_eid"),
          get_json_object(col("metadata"), "$.uid").cast("long").as(s"${p}_uid"),
          expr("timestamp_micros(CAST(get_json_object(metadata, '$.tns') AS BIGINT) DIV 1000)")
            .as(s"${p}_t"))
        .withWatermark(s"${p}_t", "1 hour") // BEFORE the filter: flush advances the clock
        .filter(col("et") === et).drop("et")
      EnginePack.withStreamWidth(s, 4) {
        val (drained, _) = EnginePack.drainToFiles(
          side("click", "c").join(side("purchase", "p"),
            col("c_uid") === col("p_uid") &&
              col("p_t") >= col("c_t") &&
              col("p_t") <= col("c_t") + expr("INTERVAL 1 HOUR"),
            "left_outer"),
          "souter")
        drained
          .filter(col("c_eid") < 4096) // drop filler-click state rows
          .select(col("c_eid"), coalesce(col("p_eid"), lit(-1L)).as("p_eid"))
          .orderBy(col("c_eid"), col("p_eid"))
      }
    },
    "q_stream_drain" -> { (s, dir) =>
      // S8 through the oracle: the DSv2 MICRO-BATCH path (offset cursor walk,
      // admission control, AvailableNow drain — the `feedConsumer` analog of
      // `DefaultPartitionManager.cpp:415-504`), not the batch Scan. Three
      // separate produces build a multi-chunk log; the stream must drain it
      // across several admission-bounded micro-batches into exactly the
      // source rows, dense per partition.
      val d = tempDriver(s)
      d.createTopic("sdrain_demo", partitions = 4)
      val topic = d.openTopic("sdrain_demo")
      val src = sourceByEid(s, dir)
      val eid = get_json_object(col("metadata"), "$.eid").cast("long")
      (0 until 3).foreach(b =>
        topic.producer().produce(src.filter(pmod(eid, lit(3)) === b)))
      val total = t(s, dir, "events").count()
      // admission budget sized so the drain takes ~4 micro-batches at any sf
      val perTrigger = math.max(256L, total / 4)
      val (drained, query) = EnginePack.drainToFiles(
        s.readStream.format("graft")
          .option("warehouse", d.warehouse).option("topic", "sdrain_demo")
          .option("maxEventsPerTrigger", perTrigger.toString)
          .load(),
        "sdrain")
      val batches = query.recentProgress.count(_.numInputRows > 0)
      drained
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("cnt"), min(col("event_id")).as("min_id"),
          max(col("event_id")).as("max_id"),
          countDistinct(col("event_id")).as("n_distinct"))
        .withColumn("multi_batch", lit(batches >= 2))
        .orderBy(col("partition"))
    },
    "q_stream_bytes" -> { (s, dir) =>
      // S3 byte-shaped admission through the oracle: `maxBytesPerTrigger`
      // bounds each micro-batch by chunk-file bytes (≥1 file per trigger —
      // the consumer-side analog of the reference producer's byte-sized
      // queue bound, `ActiveProducerBatchQueue.hpp:70-72`). A quarter-log
      // budget forces a multi-trigger drain at ANY scale factor (byte
      // budgets must not be row counts precisely because payload size per
      // row varies); the drained rows must equal the source exactly —
      // admission changes batching, never content.
      val d = tempDriver(s)
      d.createTopic("sbytes_demo", partitions = 4)
      val topic = d.openTopic("sbytes_demo")
      val src = sourceByEid(s, dir)
      val eid = get_json_object(col("metadata"), "$.eid").cast("long")
      (0 until 3).foreach(b =>
        topic.producer().produce(src.filter(pmod(eid, lit(3)) === b)))
      val logDir = new org.apache.hadoop.fs.Path(d.catalog.logPath("sbytes_demo"))
      val fsys = logDir.getFileSystem(s.sparkContext.hadoopConfiguration)
      val budget = math.max(1L, fsys.getContentSummary(logDir).getLength / 4)
      val (drained, query) = EnginePack.drainToFiles(
        s.readStream.format("graft")
          .option("warehouse", d.warehouse).option("topic", "sbytes_demo")
          .option("maxBytesPerTrigger", budget.toString)
          .load(),
        "sbytes")
      val batches = query.recentProgress.count(_.numInputRows > 0)
      drained
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("cnt"), min(col("event_id")).as("min_id"),
          max(col("event_id")).as("max_id"),
          countDistinct(col("event_id")).as("n_distinct"))
        .withColumn("multi_batch", lit(batches >= 2))
        .orderBy(col("partition"))
    },
    "q_stream_time" -> { (s, dir) =>
      // Kafka startingTimestamp parity THROUGH the micro-batch source: a
      // fresh stream pinned to the 40%-quantile event time must emit
      // exactly each partition's suffix from the per-partition time floor
      // — the same boundary rule q_consumer_seek grades on the batch side,
      // here exercised through initialOffset + the offset walk
      val d = tempDriver(s)
      d.createTopic("stime_demo", partitions = 4)
      val topic = d.openTopic("stime_demo")
      topic.producer().produce(t(s, dir, "events")
        .select(to_json(struct(col("event_id").as("eid"),
            col("ts").as("tsn"))).as("metadata"),
          pmod(col("event_id"), lit(4)).cast("int").as("partition"),
          col("event_id").as("__order")))
      val ev = t(s, dir, "events")
      val cutEid = ev.agg(floor(count(lit(1)) * 0.4).cast("long")).head().getLong(0)
      val cutoff = ev.filter(col("event_id") === cutEid)
        .select(col("ts").cast("long")).head().getLong(0)
      val (drained, _) = EnginePack.drainToFiles(
        s.readStream.format("graft")
          .option("warehouse", d.warehouse).option("topic", "stime_demo")
          .option("startingTimeField", "$.tsn")
          .option("startingTimeCutoff", cutoff.toString)
          .load(),
        "stime")
      val eid = get_json_object(col("metadata"), "$.eid").cast("long")
      drained
        .select(col("partition"), eid.as("k"))
        .groupBy(col("partition"))
        .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_eid"),
          min(col("k")).as("min_eid"))
        .orderBy(col("partition"))
    },
    "q_drain" -> { (s, dir) =>
      // D5: after markAsComplete, the pull walk drains exactly the produced
      // events and then reports NoMoreEvents — repeatably.
      val d = tempDriver(s)
      d.createTopic("drain_demo", partitions = 2)
      val topic = d.openTopic("drain_demo")
      topic.producer().produce(
        t(s, dir, "events")
          .filter(get_json_object(col("props"), "$.k").cast("long") < 5)
          .orderBy(col("event_id"))
          .select(col("props").as("metadata")))
      topic.markAsComplete()
      val c = topic.consumer("drainer") // default bounded feed
      var n = 0L
      var done = false
      while (!done) c.pull() match {
        case Pull.Next(_) => n += 1
        case _ => done = true
      }
      val still = (0 until 3).forall(_ => c.pull() == Pull.NoMoreEvents)
      import s.implicits._
      Seq((n, still)).toDF("n_drained", "no_more_events")
    },
  )

  override def oracles: Map[String, String] = Map(
    // ids dense 0..cnt-1 per partition, one id per event
    "q_producer_ids" ->
      """SELECT CAST(event_id % 4 AS INT) AS partition, count(*) AS cnt,
        | CAST(0 AS BIGINT) AS min_id, count(*) - 1 AS max_id, count(*) AS n_distinct
        |FROM events GROUP BY 1 ORDER BY partition""".stripMargin,
    // the topic's FieldMod('$.k') selector must equal k % 4 routing
    "q_producer_selector" ->
      """SELECT CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) % 4 AS INT) AS partition,
        | count(*) AS cnt, count(DISTINCT json_extract_string(props, '$.k')) AS n_keys
        |FROM events GROUP BY 1 ORDER BY partition""".stripMargin,
    // same contract as q_consumer_ack but via the DSv2 reader
    "q_source_scan" ->
      """SELECT partition, engine_id, eid
        |FROM (SELECT CAST(event_id % 4 AS INT) AS partition,
        |        row_number() OVER (PARTITION BY event_id % 4 ORDER BY event_id) - 1 AS engine_id,
        |        event_id AS eid
        |      FROM events) s
        |WHERE engine_id >= 10 ORDER BY partition, engine_id""".stripMargin,
    // the 10 smallest engine ids across 4 partitions: 0×4, 1×4, 2×2
    "q_limit_pushdown" ->
      """SELECT engine_id AS event_id FROM (
        |  SELECT row_number() OVER (PARTITION BY event_id % 4 ORDER BY event_id) - 1 AS engine_id
        |  FROM events) s
        |ORDER BY event_id LIMIT 10""".stripMargin,
    // dense engine ids per partition: count = group size, max id = count-1
    "q_agg_pushdown" ->
      """SELECT CAST(event_id % 4 AS INT) AS partition, COUNT(*) AS cnt,
        | COUNT(*) - 1 AS max_id
        |FROM events GROUP BY 1 ORDER BY partition""".stripMargin,
    // per-partition summaries of the full topic and its first-500 sibling,
    // joined on the shared partition layout
    "q_colocated_join" ->
      """WITH a AS (SELECT CAST(event_id % 4 AS INT) AS partition,
        |        row_number() OVER (PARTITION BY event_id % 4 ORDER BY event_id) - 1 AS id
        |      FROM events),
        |     b AS (SELECT CAST(event_id % 4 AS INT) AS partition,
        |        row_number() OVER (PARTITION BY event_id % 4 ORDER BY event_id) - 1 AS id
        |      FROM events WHERE event_id < 500),
        |     ag AS (SELECT partition, COUNT(*) AS cnt_a,
        |              CAST(SUM(id) AS BIGINT) AS sum_a FROM a GROUP BY 1),
        |     bg AS (SELECT partition, COUNT(*) AS cnt_b,
        |              CAST(SUM(id) AS BIGINT) AS sum_b FROM b GROUP BY 1)
        |SELECT partition, cnt_a, sum_a, cnt_b, sum_b
        |FROM ag JOIN bg USING (partition) ORDER BY partition""".stripMargin,
    // chunk rotation at 16 records/file over dense per-partition ids:
    // file j of a partition holds exactly ids [16j, min(16j+16, n)) — every
    // per-file aggregate is id arithmetic
    "q_meta_file" ->
      """SELECT partition, CAST(FLOOR(engine_id / 16) AS BIGINT) AS chunk,
        | COUNT(*) AS cnt, MIN(engine_id) AS min_id, MAX(engine_id) AS max_id
        |FROM (SELECT CAST(event_id % 4 AS INT) AS partition,
        |        row_number() OVER (PARTITION BY event_id % 4 ORDER BY event_id) - 1 AS engine_id
        |      FROM events WHERE event_id < 1024) s
        |GROUP BY 1, 2 ORDER BY partition, chunk""".stripMargin,
    // the engine-id slice joined back to the source table: per-partition
    // count and exact cents sum over the first 25 engine ids
    "q_topic_broadcast" ->
      """SELECT partition, COUNT(*) AS cnt,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM (SELECT CAST(event_id % 4 AS INT) AS partition,
        |        row_number() OVER (PARTITION BY event_id % 4 ORDER BY event_id) - 1 AS engine_id,
        |        event_id AS eid
        |      FROM events) s
        |JOIN events e ON s.eid = e.event_id
        |WHERE s.engine_id < 25
        |GROUP BY partition ORDER BY partition""".stripMargin,
    // per-partition watermarks from the dense-id contract; one produce =
    // one chunk file per partition; topics are created incomplete
    "q_sql_meta" ->
      """SELECT CAST(event_id % 4 AS INT) AS partition,
        | count(*) AS n_events, CAST(1 AS BIGINT) AS n_files,
        | CAST(0 AS BOOLEAN) AS completed
        |FROM events GROUP BY 1 ORDER BY partition""".stripMargin,
    "q_sql_catalog" ->
      """SELECT partition, engine_id, eid
        |FROM (SELECT CAST(event_id % 4 AS INT) AS partition,
        |        row_number() OVER (PARTITION BY event_id % 4 ORDER BY event_id) - 1 AS engine_id,
        |        event_id AS eid
        |      FROM events) s
        |WHERE engine_id >= 10 ORDER BY partition, engine_id""".stripMargin,
    "q_sql_insert" ->
      """SELECT CAST(event_id % 4 AS INT) AS partition, COUNT(*) AS cnt,
        |  CAST(0 AS BIGINT) AS min_id, COUNT(*) - 1 AS max_id,
        |  CAST(SUM(event_id) AS BIGINT) AS eid_sum
        |FROM events GROUP BY 1 ORDER BY partition""".stripMargin,
    // source after the vectored delete (eid%8 gone) + the guard booleans
    "q_clone_guard" ->
      """SELECT CAST(event_id % 4 AS INT) AS partition, count(*) AS cnt,
        |  CAST(sum(event_id) AS BIGINT) AS sum_eid,
        |  true AS refused, true AS released, true AS clone_intact
        |FROM events WHERE event_id < 256 AND event_id % 8 <> 0
        |GROUP BY 1 ORDER BY partition""".stripMargin,
    // all 512 rows survive; eid%7==0 rows carry the updated flag
    "q_sql_update" ->
      """SELECT CAST(event_id % 4 AS INT) AS partition, count(*) AS cnt,
        |  CAST(sum(event_id) AS BIGINT) AS eid_sum,
        |  CAST(sum(CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_upd
        |FROM events WHERE event_id < 512
        |GROUP BY 1 ORDER BY partition""".stripMargin,
    // dense ids per partition: min 0, max cnt-1, distinct = cnt; eid sums
    // are commit-interleaving independent (512 events, 8 racing commits)
    "q_producer_concurrent" ->
      """SELECT CAST(event_id % 4 AS INT) AS partition, count(*) AS cnt,
        |  count(*) AS n_ids, CAST(0 AS BIGINT) AS min_id,
        |  count(*) - 1 AS max_id, CAST(sum(event_id) AS BIGINT) AS eid_sum
        |FROM events WHERE event_id < 512
        |GROUP BY 1 ORDER BY partition""".stripMargin,
    // truly-concurrent writers, same dense-id/no-loss contract as
    // q_producer_concurrent (512 events, 4 overlapping commits) plus the
    // protocol's own cleanliness facts
    "q_producer_multi" ->
      """SELECT CAST(event_id % 4 AS INT) AS partition, count(*) AS cnt,
        |  count(*) AS n_ids, CAST(0 AS BIGINT) AS min_id,
        |  count(*) - 1 AS max_id, CAST(sum(event_id) AS BIGINT) AS eid_sum,
        |  true AS intents_clean, true AS gap_free
        |FROM events WHERE event_id < 512
        |GROUP BY 1 ORDER BY partition""".stripMargin,
    // survivors: untouched 0..255, updated (u=1, eid%5<>0) 256..511,
    // inserted 512..639; matched eid%5=0 rows tombstoned by the merge
    "q_sql_merge" ->
      """WITH final AS (
        |  SELECT event_id AS eid, 0 AS u FROM events WHERE event_id < 256
        |  UNION ALL
        |  SELECT event_id, 1 FROM events
        |  WHERE event_id >= 256 AND event_id < 512 AND event_id % 5 <> 0
        |  UNION ALL
        |  SELECT event_id, 0 FROM events WHERE event_id >= 512 AND event_id < 640)
        |SELECT CAST(eid % 4 AS INT) AS partition, count(*) AS cnt,
        |  CAST(sum(eid) AS BIGINT) AS eid_sum, CAST(sum(u) AS BIGINT) AS n_upd
        |FROM final GROUP BY 1 ORDER BY partition""".stripMargin,
    // engine id = rank of the event within its partition (push order); the
    // acked prefix (< 10) must not reappear
    "q_consumer_ack" ->
      """SELECT partition, engine_id, eid
        |FROM (SELECT CAST(event_id % 4 AS INT) AS partition,
        |        row_number() OVER (PARTITION BY event_id % 4 ORDER BY event_id) - 1 AS engine_id,
        |        event_id AS eid
        |      FROM events) s
        |WHERE engine_id >= 10 ORDER BY partition, engine_id""".stripMargin,
    // only k <= 69 rows land; the mixed batch aborted without landing rows
    // (same deterministic 2048-row slice as the Spark side)
    "q_producer_validated" ->
      """SELECT true AS batch_aborted, count(*) AS n_valid,
        | count(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_keys
        |FROM (SELECT * FROM events ORDER BY event_id LIMIT 2048)
        |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) <= 69""".stripMargin,
    // dense ids survive watermark loss: identical contract to q_producer_ids
    "q_recovery" ->
      """SELECT CAST(event_id % 4 AS INT) AS partition, count(*) AS cnt,
        | CAST(0 AS BIGINT) AS min_id, count(*) - 1 AS max_id, count(*) AS n_distinct
        |FROM events GROUP BY 1 ORDER BY partition""".stripMargin,
    // buffered push with auto-flush: same dense-id contract as batch produce
    // (the same deterministic 512-row slice the Spark side pushes)
    "q_producer_batched" ->
      """SELECT CAST(event_id % 2 AS INT) AS partition, count(*) AS cnt,
        | CAST(0 AS BIGINT) AS min_id, count(*) - 1 AS max_id, count(*) AS n_distinct,
        | true AS futures_resolved
        |FROM (SELECT * FROM events
        |      WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) < 2
        |      ORDER BY event_id LIMIT 512)
        |GROUP BY 1 ORDER BY partition""".stripMargin,
    // partition growth: old id spaces untouched, the new partition starts at 0
    "q_add_partition" ->
      """WITH base AS (
        |  SELECT CAST(event_id % 2 AS INT) AS partition, count(*) AS cnt
        |  FROM events GROUP BY 1
        |  UNION ALL
        |  SELECT 2, count(*) FROM events WHERE event_id % 4 = 1)
        |SELECT partition, cnt, CAST(0 AS BIGINT) AS min_id, cnt - 1 AS max_id,
        |  3 AS n_partitions
        |FROM base ORDER BY partition""".stripMargin,
    // metadata-only describe: watermark counts equal the produced counts
    "q_describe" ->
      """SELECT CAST(event_id % 4 AS INT) AS partition, count(*) AS n_events,
        | true AS completed, true AS files_registered
        |FROM events GROUP BY 1 ORDER BY partition""".stripMargin,
    // DDL/config error contracts: every rejection fired AND the engine
    // stayed usable afterwards
    "q_config_checks" ->
      """SELECT true AS dup_rejected, true AS missing_rejected,
        | true AS bad_name_rejected, true AS bad_selector_rejected,
        | true AS bad_serializer_rejected,
        | true AS list_ok, true AS exists_ok, true AS not_exists_ok""".stripMargin,
    // read_committed = plain (eid%3=0) ∪ committed txn (eid%3=1); aborted
    // (eid%3=2) excluded; before commit only plain rows were visible
    "q_txn_produce" ->
      """SELECT CAST(event_id % 2 AS INT) AS partition, count(*) AS cnt,
        | count(*) FILTER (WHERE event_id % 3 = 0) AS n_plain,
        | count(*) FILTER (WHERE event_id % 3 = 1) AS n_committed_txn,
        | CAST(0 AS BIGINT) AS n_aborted_txn,
        | (SELECT count(*) FROM events WHERE event_id % 3 = 0) AS visible_before_commit,
        | (SELECT count(*) FROM events) AS log_total
        |FROM events WHERE event_id % 3 < 2 GROUP BY 1 ORDER BY partition""".stripMargin,
    // upsert-txn: survivors = plain rows the committed delete spared
    // (eid%6=3) ∪ the committed produce (eid%3=1); the aborted
    // transaction's produce (eid%3=2) and staged delete (eid%6=3) leave
    // no trace; before the commit exactly the plain rows were visible
    "q_txn_multi" ->
      """SELECT CAST(event_id % 2 AS INT) AS partition, count(*) AS cnt,
        | count(*) FILTER (WHERE event_id % 6 = 3) AS n_plain_kept,
        | count(*) FILTER (WHERE event_id % 3 = 1) AS n_upserted,
        | CAST(0 AS BIGINT) AS n_aborted_txn,
        | CAST(0 AS BIGINT) AS n_deleted_visible,
        | (SELECT count(*) FROM events WHERE event_id % 3 = 0) AS visible_before_commit,
        | (SELECT count(*) FROM events WHERE event_id % 6 = 0) AS staged_deletes,
        | (SELECT count(*) FROM events WHERE event_id % 6 = 0) AS deleted_total
        |FROM events WHERE event_id % 6 = 3 OR event_id % 3 = 1
        |GROUP BY 1 ORDER BY partition""".stripMargin,
    // admin listing: three records, each one produce = one range (the
    // eid%4 class fixes the partition parity); the staged delete matches
    // only the open transaction's own eid%8=2 rows; one floor entry
    "q_txn_admin" ->
      """SELECT 'ab' AS txn_id, 'aborted' AS state,
        | (SELECT count(*) FROM events WHERE event_id % 4 = 1) AS n_events,
        | CAST(1 AS BIGINT) AS n_ranges,
        | CAST(0 AS BIGINT) AS n_staged_deletes,
        | CAST(0 AS BIGINT) AS n_offset_entries
        |UNION ALL SELECT 'ok', 'committed',
        | (SELECT count(*) FROM events WHERE event_id % 4 = 0),
        | CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        |UNION ALL SELECT 'op', 'open',
        | (SELECT count(*) FROM events WHERE event_id % 4 = 2),
        | CAST(1 AS BIGINT),
        | (SELECT count(*) FROM events WHERE event_id % 8 = 2),
        | CAST(1 AS BIGINT)
        |ORDER BY txn_id""".stripMargin,
    // timeout lifecycle: plain rows (eid%3=0) stay visible throughout;
    // the hung transaction's rows (eid%3=1) are excluded while open AND
    // after the auto-abort, then physically purged; every engine-side
    // lifecycle fact resolved true
    "q_txn_timeout" ->
      """SELECT CAST(event_id % 2 AS INT) AS partition, count(*) AS cnt,
        | CAST(0 AS BIGINT) AS n_hung_visible,
        | (SELECT count(*) FROM events WHERE event_id % 3 = 0) AS wedged_count,
        | (SELECT count(*) FROM events WHERE event_id % 3 = 0) AS released_count,
        | (SELECT count(*) FROM events WHERE event_id % 3 < 2) AS log_before_purge,
        | (SELECT count(*) FROM events WHERE event_id % 3 = 0) AS log_after_purge,
        | true AS auto_aborted, true AS debris_retained, true AS record_purged
        |FROM events WHERE event_id % 3 = 0
        |GROUP BY 1 ORDER BY partition""".stripMargin,
    // tiered-topic debris reclaim: plain (eid%3=0, archived cold) and the
    // committed txn's rows (eid%3=1) survive; the aborted txn's rows
    // (eid%3=2) are vector-hidden from even the UNCOMMITTED view, with
    // every engine-side lifecycle fact resolved true
    "q_txn_purge_tiered" ->
      """SELECT CAST(event_id % 2 AS INT) AS partition, count(*) AS cnt,
        | count(*) FILTER (WHERE event_id % 3 = 1) AS n_committed,
        | CAST(0 AS BIGINT) AS n_aborted_visible,
        | true AS record_purged, true AS committed_kept,
        | true AS cold_intact, true AS vectors_present
        |FROM events WHERE event_id % 3 < 2
        |GROUP BY 1 ORDER BY partition""".stripMargin,
    // read_committed scan = plain (eid%4=0) ∪ committed txn (eid%4=1);
    // aborted (2) and open (3) excluded; the raw log holds all four
    "q_source_committed" ->
      """SELECT CAST(event_id % 2 AS INT) AS partition, count(*) AS cnt,
        | count(*) FILTER (WHERE event_id % 4 = 0) AS n_plain,
        | count(*) FILTER (WHERE event_id % 4 = 1) AS n_committed,
        | CAST(0 AS BIGINT) AS n_excluded,
        | (SELECT count(*) FROM events) AS log_total
        |FROM events WHERE event_id % 4 < 2
        |GROUP BY 1 ORDER BY partition""".stripMargin,
    // cross-topic commit: coord = the committed txn's local rows
    // (eid%4=1); feed = plain (eid%4=0) ∪ the committed foreign share
    // (eid%4=2); the aborted foreign share (eid%4=3) appears nowhere;
    // before the flip only the plain rows were visible on the feed
    "q_txn_cross" ->
      """SELECT topic, CAST((event_id // 4) % 2 AS INT) AS partition,
        | count(*) AS cnt, CAST(sum(event_id) AS BIGINT) AS sum_eid,
        | (SELECT count(*) FROM events WHERE event_id % 4 = 0) AS visible_before_feed
        |FROM (
        |  SELECT 'coord' AS topic, event_id FROM events WHERE event_id % 4 = 1
        |  UNION ALL
        |  SELECT 'feed' AS topic, event_id FROM events WHERE event_id % 4 IN (0, 2)
        |)
        |GROUP BY 1, 2 ORDER BY topic, partition""".stripMargin,
    // exactly-once loop: the output holds the 64 smallest event_ids of
    // each parity exactly once; before the commit nothing was visible and
    // the cursor unmoved; after it the cursor sits at 64 on both
    // partitions (floors are last-processed ids; the cursor stores id+1)
    "q_txn_offsets" ->
      """SELECT CAST(event_id % 2 AS INT) AS partition, count(*) AS cnt,
        | CAST(sum(event_id) AS BIGINT) AS sum_eid,
        | CAST(0 AS BIGINT) AS cursor_before, CAST(0 AS BIGINT) AS visible_before,
        | CAST(64 AS BIGINT) AS cursor_p0, CAST(64 AS BIGINT) AS cursor_p1
        |FROM (SELECT event_id,
        |        row_number() OVER (PARTITION BY event_id % 2 ORDER BY event_id) AS rn
        |      FROM events)
        |WHERE rn <= 64 GROUP BY 1 ORDER BY partition""".stripMargin,
    // exactly one copy of every row despite the retry: dense ids per
    // partition, every guard fired
    "q_producer_idempotent" ->
      """SELECT CAST(event_id % 2 AS INT) AS partition, count(*) AS cnt,
        | CAST(0 AS BIGINT) AS min_id, count(*) - 1 AS max_id, count(*) AS n_distinct,
        | true AS retry_deduped, true AS gap_rejected, true AS zombie_fenced
        |FROM events GROUP BY 1 ORDER BY partition""".stripMargin,
    // the tiered union view is indistinguishable from an un-tiered topic:
    // dense ids per partition, every row visible through both surfaces
    "q_tiered" ->
      """SELECT CAST(event_id % 2 AS INT) AS partition, count(*) AS cnt,
        | CAST(0 AS BIGINT) AS min_id, count(*) - 1 AS max_id, count(*) AS n_distinct,
        | true AS cold_files_moved,
        | (SELECT count(*) FROM events) AS dsv2_total
        |FROM events GROUP BY 1 ORDER BY partition""".stripMargin,
    // base64-serialized topic: same per-partition contract as q_producer_ids
    // (events decoded back losslessly), plus the stored-form/DSv2 booleans
    "q_serializer" ->
      """SELECT CAST(event_id % 4 % 2 AS INT) AS partition, count(*) AS cnt,
        | count(DISTINCT event_id) AS n_eids,
        | true AS stored_opaque, true AS dsv2_decoded
        |FROM events GROUP BY 1 ORDER BY partition""".stripMargin,
    // compaction preserves the id space exactly (dense per partition) and
    // provably collapsed the chunk files
    "q_compact" ->
      """SELECT CAST(event_id % 4 AS INT) AS partition, count(*) AS cnt,
        | CAST(0 AS BIGINT) AS min_id, count(*) - 1 AS max_id, count(*) AS n_distinct,
        | true AS collapsed
        |FROM events GROUP BY 1 ORDER BY partition""".stripMargin,
    // bloom point lookup: the median distinct user id's events, re-derived
    // from the source; the pruning booleans are engine-side plan facts
    "q_meta_index_bloom" ->
      """WITH uids AS (SELECT DISTINCT user_id FROM events),
        |tgt AS (SELECT user_id AS u FROM uids ORDER BY user_id
        |        LIMIT 1 OFFSET (SELECT count(*) // 2 FROM uids))
        |SELECT count(*) AS cnt, CAST(sum(event_id) AS BIGINT) AS sum_eid,
        | true AS bloom_pruned, true AS zone_useless
        |FROM events, tgt WHERE user_id = u""".stripMargin,
    // validator evolution contracts: strict tighten refused (k reaches 99),
    // conforming tighten accepted, new rules bind produces; the final
    // count is the 2048-row history + the one conforming row
    "q_alter_validator" ->
      """SELECT true AS strict_rejected, true AS loose_accepted,
        | true AS bad_aborted, count(*) + 1 AS n_events
        |FROM (SELECT * FROM events ORDER BY event_id LIMIT 2048)""".stripMargin,
    // mirrored target: dense per-partition ids ordered by (mirror round,
    // source id) — phase 1 is eid % 5 in {0,1,2}
    "q_mirror" ->
      """SELECT CAST(event_id % 4 AS INT) AS partition,
        | row_number() OVER (PARTITION BY event_id % 4
        |   ORDER BY CASE WHEN event_id % 5 < 3 THEN 0 ELSE 1 END, event_id)
        |   - 1 AS engine_id,
        | event_id AS eid, true AS idle_mirror_empty
        |FROM events ORDER BY partition, engine_id""".stripMargin,
    // DLQ routing: the 2048-row slice splits on the schema-validity
    // predicate (0 <= k <= 69); sums over the original k values grade that
    // wrapped DLQ documents round-trip verbatim
    "q_producer_dlq" ->
      """WITH src AS (
        |  SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM (SELECT * FROM events ORDER BY event_id LIMIT 2048))
        |SELECT 'dlq' AS side, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
        |  true AS tagged
        |FROM src WHERE k < 0 OR k > 69
        |UNION ALL
        |SELECT 'main', count(*), CAST(sum(k) AS BIGINT), true
        |FROM src WHERE k >= 0 AND k <= 69
        |ORDER BY side""".stripMargin,
    // key compaction: survivors = each key's latest version (max source
    // eid per k), minus tombstone keys (latest eid % 7 = 0 → empty
    // payload); partition = FieldMod k % 4; payload length of a survivor
    // is 1 + digits('v'||eid)
    "q_compact_keys" ->
      """WITH latest AS (
        |  SELECT event_id % 100 AS k, max(event_id) AS eid
        |  FROM events GROUP BY 1)
        |SELECT CAST(k % 4 AS INT) AS partition, count(*) AS n_keys,
        | count(DISTINCT k) AS n_distinct_keys,
        | CAST(sum(eid) AS BIGINT) AS sum_eid,
        | CAST(sum(1 + length(CAST(eid AS VARCHAR))) AS BIGINT) AS sum_len
        |FROM latest WHERE eid % 7 <> 0
        |GROUP BY 1 ORDER BY partition""".stripMargin,
    // expiry drops exactly ids < 100 per partition; the id space above the
    // cutoff and the watermark survive
    "q_expire" ->
      """SELECT CAST(event_id % 4 AS INT) AS partition, count(*) - 100 AS cnt,
        | CAST(100 AS BIGINT) AS min_id, count(*) - 1 AS max_id,
        | count(*) - 100 AS n_distinct, true AS watermark_intact
        |FROM events GROUP BY 1 ORDER BY partition""".stripMargin,
    // time-based retention: per-partition keep-from = min id whose event
    // time is at/past the 60th-percentile timestamp; the retained suffix
    // is re-derived here from the source table independently
    "q_expire_time" ->
      """WITH src AS (SELECT event_id AS eid, CAST(event_id % 4 AS INT) AS p,
        |                    epoch_ns(ts) AS tsn FROM events),
        |cut AS (SELECT tsn AS c FROM src
        |        WHERE eid = (SELECT CAST(floor(count(*) * 0.6) AS BIGINT) FROM src)),
        |bounds AS (SELECT p, min(eid) AS keep_from
        |           FROM src, cut WHERE tsn >= c GROUP BY p)
        |SELECT s.p AS partition, count(*) AS cnt,
        | CAST(sum(s.eid) AS BIGINT) AS sum_eid,
        | min(s.eid) AS min_eid, max(s.eid) AS max_eid
        |FROM src s JOIN bounds b ON s.p = b.p AND s.eid >= b.keep_from
        |GROUP BY 1 ORDER BY partition""".stripMargin,
    // startingTime stream = each partition's suffix from the first event
    // at/past the 40% timestamp (same independent boundary derivation as
    // q_consumer_seek, different cutoff quantile)
    "q_stream_time" ->
      """WITH src AS (SELECT event_id AS eid, CAST(event_id % 4 AS INT) AS p,
        |                    epoch_ns(ts) AS tsn FROM events),
        |cut AS (SELECT tsn AS c FROM src
        |        WHERE eid = (SELECT CAST(floor(count(*) * 0.4) AS BIGINT) FROM src)),
        |bounds AS (SELECT p, min(eid) AS keep_from
        |           FROM src, cut WHERE tsn >= c GROUP BY p)
        |SELECT s.p AS partition, count(*) AS cnt,
        | CAST(sum(s.eid) AS BIGINT) AS sum_eid, min(s.eid) AS min_eid
        |FROM src s JOIN bounds b ON s.p = b.p AND s.eid >= b.keep_from
        |GROUP BY 1 ORDER BY partition""".stripMargin,
    // balanced group: member of partition p is p mod 3; the union of the
    // members' disjoint views is exactly the log
    "q_consumer_group" ->
      """SELECT CAST(event_id % 4 AS INT) % 3 AS member,
        | CAST(event_id % 4 AS INT) AS partition,
        | count(*) AS cnt, CAST(sum(event_id) AS BIGINT) AS sum_eid
        |FROM events GROUP BY 1, 2 ORDER BY member, partition""".stripMargin,
    // resized group: member of partition p is p mod 2, and each view
    // starts at the MIGRATED cursor (rank >= 10*(p+1) within partition)
    "q_consumer_rebalance" ->
      """WITH src AS (SELECT event_id AS eid, CAST(event_id % 4 AS INT) AS p,
        |  row_number() OVER (PARTITION BY event_id % 4 ORDER BY event_id) - 1
        |    AS engine_id
        |FROM events)
        |SELECT p % 2 AS member, p AS partition, count(*) AS cnt,
        | CAST(sum(eid) AS BIGINT) AS sum_eid
        |FROM src WHERE engine_id >= (p + 1) * 10
        |GROUP BY 1, 2 ORDER BY member, partition""".stripMargin,
    // seek-to-time: the repositioned consumer sees exactly each
    // partition's suffix from the first event at/past the 40% timestamp
    "q_consumer_seek" ->
      """WITH src AS (SELECT event_id AS eid, CAST(event_id % 4 AS INT) AS p,
        |                    epoch_ns(ts) AS tsn FROM events),
        |cut AS (SELECT tsn AS c FROM src
        |        WHERE eid = (SELECT CAST(floor(count(*) * 0.4) AS BIGINT) FROM src)),
        |bounds AS (SELECT p, min(eid) AS keep_from
        |           FROM src, cut WHERE tsn >= c GROUP BY p)
        |SELECT s.p AS partition, count(*) AS cnt,
        | CAST(sum(s.eid) AS BIGINT) AS sum_eid, min(s.eid) AS min_eid
        |FROM src s JOIN bounds b ON s.p = b.p AND s.eid >= b.keep_from
        |GROUP BY 1 ORDER BY partition""".stripMargin,
    // maintain() must leave the log byte-identical to the source population
    "q_maintain" ->
      """SELECT CAST(event_id % 4 AS INT) AS partition, count(*) AS cnt,
        | CAST(sum(event_id) AS BIGINT) AS sum_eid,
        | true AS maintained, true AS pruned
        |FROM events GROUP BY 1 ORDER BY partition""".stripMargin,
    // zone-map-indexed read of the [0.3n, 0.6n] eid window: file pruning
    // may only skip I/O, never rows — the survivors equal the plain filter
    "q_meta_index" ->
      """WITH nn AS (SELECT count(*) AS c FROM events)
        |SELECT CAST(event_id % 4 AS INT) AS partition, count(*) AS cnt,
        | CAST(sum(event_id) AS BIGINT) AS sum_eid,
        | true AS pruned, true AS incremental_ok, true AS conservative_ok
        |FROM events, nn
        |WHERE event_id >= (c * 3) // 10 AND event_id <= (c * 6) // 10
        |GROUP BY 1 ORDER BY partition""".stripMargin,
    // string-zone-indexed language read: survivors equal the source filter
    "q_meta_index_lang" ->
      """SELECT count(*) AS cnt, CAST(sum(doc_id) AS BIGINT) AS sum_doc,
        | true AS pruned
        |FROM documents WHERE lang = 'en'""".stripMargin,
    // vacuum removes ONLY orphans: the committed population is bit-intact
    "q_vacuum" ->
      """SELECT CAST(event_id % 4 AS INT) AS partition, count(*) AS cnt,
        | CAST(sum(event_id) AS BIGINT) AS sum_eid,
        | true AS orphans_gone, true AS report_ok
        |FROM events GROUP BY 1 ORDER BY partition""".stripMargin,
    // lag = per-partition count − committed cursor (10·(p+1))
    "q_consumer_lag" ->
      """SELECT p AS partition, count(*) AS n_events,
        | CAST((p + 1) * 10 AS BIGINT) AS committed,
        | CAST(count(*) - (p + 1) * 10 AS BIGINT) AS lag
        |FROM (SELECT CAST(event_id % 4 AS INT) AS p FROM events) x
        |GROUP BY p ORDER BY partition""".stripMargin,
    // the pinned read sees exactly the first produce (source eid < 2048)
    "q_snapshot" ->
      """SELECT CAST(event_id % 4 AS INT) AS partition, count(*) AS cnt,
        | CAST(sum(event_id) AS BIGINT) AS sum_eid, max(event_id) AS max_eid
        |FROM events WHERE event_id < 2048
        |GROUP BY 1 ORDER BY partition""".stripMargin,
    // the piped destination holds exactly the eid%3==0 slice, re-routed to
    // partition eid%2 — the replayed final batch must not double-count
    // last-writer-wins per key: 0..31 keep wave 1 (v=1), 32..95 end at
    // wave 2 (v=2); inserts selector-placed at k % 4
    "q_stream_upsert" ->
      """SELECT CAST(eid % 4 AS INT) AS partition, count(*) AS cnt,
        |  CAST(sum(eid) AS BIGINT) AS k_sum,
        |  CAST(sum(CASE WHEN eid >= 32 THEN 2 ELSE 1 END) AS BIGINT) AS v_sum
        |FROM (SELECT DISTINCT event_id AS eid FROM events WHERE event_id < 96) s
        |GROUP BY 1 ORDER BY partition""".stripMargin,
    "q_stream_pipe" ->
      """SELECT CAST(event_id % 2 AS INT) AS partition, count(*) AS cnt,
        | CAST(sum(event_id) AS BIGINT) AS sum_eid, max(event_id) AS max_eid
        |FROM events WHERE event_id < 4096 AND event_id % 3 = 0
        |GROUP BY 1 ORDER BY partition""".stripMargin,
    // SQL VERSION AS OF the first commit sees exactly the first produce
    // (eid < 512 — cuts sized to the smallest fixture, see the query);
    // two commits retained → n_versions = 2
    "q_time_travel" ->
      """SELECT CAST(event_id % 4 AS INT) AS partition, count(*) AS cnt,
        | CAST(sum(event_id) AS BIGINT) AS sum_eid, max(event_id) AS max_eid,
        | CAST(2 AS BIGINT) AS n_versions
        |FROM events WHERE event_id < 512
        |GROUP BY 1 ORDER BY partition""".stripMargin,
    // the pinned diff sees exactly the middle produce (eid in [1024, 3072))
    "q_snapshot_diff" ->
      """SELECT CAST(event_id % 4 AS INT) AS partition, count(*) AS cnt,
        | CAST(sum(event_id) AS BIGINT) AS sum_eid,
        | min(event_id) AS min_eid, max(event_id) AS max_eid
        |FROM events WHERE event_id >= 1024 AND event_id < 3072
        |GROUP BY 1 ORDER BY partition""".stripMargin,
    // three produces = versions 1..3 (bootstrap snapshot, then deltas);
    // n_events is the cumulative id frontier at each commit
    "q_history" ->
      """SELECT * FROM (VALUES
        | (CAST(1 AS BIGINT), 'snapshot', CAST(256 AS BIGINT)),
        | (CAST(2 AS BIGINT), 'delta',    CAST(640 AS BIGINT)),
        | (CAST(3 AS BIGINT), 'delta',    CAST(896 AS BIGINT))
        |) t(version, kind, n_events) ORDER BY version""".stripMargin,
    // after restoreTo(v1) exactly the first produce survives
    "q_restore" ->
      """SELECT CAST(event_id % 4 AS INT) AS partition, count(*) AS cnt,
        | CAST(sum(event_id) AS BIGINT) AS sum_eid, max(event_id) AS max_eid
        |FROM events WHERE event_id < 512
        |GROUP BY 1 ORDER BY partition""".stripMargin,
    // CALL system.restore back to version 1 leaves exactly the first
    // produce (eid < 512); the procedure's summary row echoes the version
    "q_sql_restore" ->
      """SELECT CAST(event_id % 4 AS INT) AS partition, count(*) AS cnt,
        | CAST(sum(event_id) AS BIGINT) AS sum_eid, max(event_id) AS max_eid,
        | CAST(1 AS BIGINT) AS restored_to
        |FROM events WHERE event_id < 512
        |GROUP BY 1 ORDER BY partition""".stripMargin,
    // SQL DELETE survivors: everything except engine ids < 10 in
    // partitions 1 and 3 (engine id = rank of eid within its partition)
    "q_sql_delete" ->
      """SELECT partition, engine_id, eid
        |FROM (SELECT CAST(event_id % 4 AS INT) AS partition,
        |        row_number() OVER (PARTITION BY event_id % 4 ORDER BY event_id) - 1 AS engine_id,
        |        event_id AS eid
        |      FROM events) s
        |WHERE NOT (engine_id < 10 AND partition IN (1, 3))
        |ORDER BY partition, engine_id""".stripMargin,
    // the version-addressed diff sees exactly the middle produce
    "q_version_diff" ->
      """SELECT CAST(event_id % 4 AS INT) AS partition, count(*) AS cnt,
        | CAST(sum(event_id) AS BIGINT) AS sum_eid,
        | min(event_id) AS min_eid, max(event_id) AS max_eid
        |FROM events WHERE event_id >= 256 AND event_id < 640
        |GROUP BY 1 ORDER BY partition""".stripMargin,
    // the purge survivors are exactly the source rows with eid % 7 <> 0
    "q_delete_where" ->
      """SELECT CAST(event_id % 4 AS INT) AS partition, count(*) AS cnt,
        | CAST(sum(event_id) AS BIGINT) AS sum_eid,
        | min(event_id) AS min_eid, max(event_id) AS max_eid
        |FROM events WHERE event_id % 7 <> 0
        |GROUP BY 1 ORDER BY partition""".stripMargin,
    // merge-on-read survivors: both deletion vectors applied
    "q_delete_vector" ->
      """SELECT CAST(event_id % 4 AS INT) AS partition, count(*) AS cnt,
        | CAST(sum(event_id) AS BIGINT) AS sum_eid,
        | min(event_id) AS min_eid, max(event_id) AS max_eid
        |FROM events WHERE event_id < 131072
        |  AND event_id % 7 <> 0 AND event_id % 11 <> 5
        |GROUP BY 1 ORDER BY partition""".stripMargin,
    // inserts = the raw second-produce window (vector-deleted rows
    // INCLUDED — they were inserted in the span); deletes = every
    // vectored row's preimage across both produces
    // identical change set through the SQL `t$changes` metadata table
    "q_sql_changes" ->
      """SELECT * FROM (
        |  SELECT 'insert' AS change_type, CAST(event_id % 4 AS INT) AS partition,
        |    count(*) AS cnt, CAST(sum(event_id) AS BIGINT) AS sum_eid,
        |    min(event_id) AS min_eid, max(event_id) AS max_eid
        |  FROM events WHERE event_id >= 256 AND event_id < 640
        |  GROUP BY 2
        |  UNION ALL
        |  SELECT 'delete' AS change_type, CAST(event_id % 4 AS INT) AS partition,
        |    count(*) AS cnt, CAST(sum(event_id) AS BIGINT) AS sum_eid,
        |    min(event_id) AS min_eid, max(event_id) AS max_eid
        |  FROM events WHERE event_id < 640 AND event_id % 7 = 0
        |  GROUP BY 2
        |) ORDER BY change_type, partition""".stripMargin,
    // time-addressed feed over the same fixture = the same change set
    "q_sql_changes_ts" ->
      """SELECT * FROM (
        |  SELECT 'insert' AS change_type, CAST(event_id % 4 AS INT) AS partition,
        |    count(*) AS cnt, CAST(sum(event_id) AS BIGINT) AS sum_eid,
        |    min(event_id) AS min_eid, max(event_id) AS max_eid
        |  FROM events WHERE event_id >= 256 AND event_id < 640
        |  GROUP BY 2
        |  UNION ALL
        |  SELECT 'delete' AS change_type, CAST(event_id % 4 AS INT) AS partition,
        |    count(*) AS cnt, CAST(sum(event_id) AS BIGINT) AS sum_eid,
        |    min(event_id) AS min_eid, max(event_id) AS max_eid
        |  FROM events WHERE event_id < 640 AND event_id % 7 = 0
        |  GROUP BY 2
        |) ORDER BY change_type, partition""".stripMargin,
    "q_table_changes" ->
      """SELECT * FROM (
        |  SELECT 'insert' AS change_type, CAST(event_id % 4 AS INT) AS partition,
        |    count(*) AS cnt, CAST(sum(event_id) AS BIGINT) AS sum_eid,
        |    min(event_id) AS min_eid, max(event_id) AS max_eid
        |  FROM events WHERE event_id >= 256 AND event_id < 640
        |  GROUP BY 2
        |  UNION ALL
        |  SELECT 'delete' AS change_type, CAST(event_id % 4 AS INT) AS partition,
        |    count(*) AS cnt, CAST(sum(event_id) AS BIGINT) AS sum_eid,
        |    min(event_id) AS min_eid, max(event_id) AS max_eid
        |  FROM events WHERE event_id < 640 AND event_id % 7 = 0
        |  GROUP BY 2
        |) ORDER BY change_type, partition""".stripMargin,
    // the last of 8 equal produce slices over the dense 0..N-1 id space
    "q_cdf_ts_prune" ->
      """SELECT CAST(event_id % 4 AS INT) AS partition, count(*) AS cnt,
        |  CAST(sum(event_id) AS BIGINT) AS sum_eid,
        |  min(event_id) AS min_eid, max(event_id) AS max_eid
        |FROM events
        |WHERE event_id >= 7 * ((SELECT count(*) FROM events) // 8)
        |  AND event_id < 8 * ((SELECT count(*) FROM events) // 8)
        |GROUP BY 1 ORDER BY partition""".stripMargin,
    // the clone = pre-clone survivors (eid%5 vectored out) + its own
    // produce; the source's post-clone rows/deletes are invisible to it
    "q_clone" ->
      """SELECT CAST(event_id % 4 AS INT) AS partition, count(*) AS cnt,
        |  CAST(sum(event_id) AS BIGINT) AS sum_eid,
        |  min(event_id) AS min_eid, max(event_id) AS max_eid
        |FROM events
        |WHERE (event_id < 512 AND event_id % 5 <> 0)
        |   OR (event_id >= 512 AND event_id < 640)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the three produce windows, ranked by commit order
    "q_row_lineage" ->
      """SELECT idx AS commit_idx, count(*) AS cnt,
        |  CAST(sum(event_id) AS BIGINT) AS sum_eid,
        |  min(event_id) AS min_eid, max(event_id) AS max_eid
        |FROM (
        |  SELECT event_id, CASE WHEN event_id < 256 THEN 1
        |    WHEN event_id < 512 THEN 2 ELSE 3 END AS idx
        |  FROM events WHERE event_id < 640)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // same change windows as q_table_changes, drained through the source
    "q_stream_changes" ->
      """SELECT * FROM (
        |  SELECT 'insert' AS change_type, CAST(event_id % 4 AS INT) AS partition,
        |    count(*) AS cnt, CAST(sum(event_id) AS BIGINT) AS sum_eid,
        |    min(event_id) AS min_eid, max(event_id) AS max_eid
        |  FROM events WHERE event_id >= 256 AND event_id < 640
        |  GROUP BY 2
        |  UNION ALL
        |  SELECT 'delete' AS change_type, CAST(event_id % 4 AS INT) AS partition,
        |    count(*) AS cnt, CAST(sum(event_id) AS BIGINT) AS sum_eid,
        |    min(event_id) AS min_eid, max(event_id) AS max_eid
        |  FROM events WHERE event_id < 640 AND event_id % 7 = 0
        |  GROUP BY 2
        |) ORDER BY change_type, partition""".stripMargin,
    // per-topic counts equal the parity split of the source table
    "q_multi_topic" ->
      """SELECT topic, count(*) AS n, count(DISTINCT k) AS n_keys FROM (
        |  SELECT CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 2 = 0
        |              THEN 't_even' ELSE 't_odd' END AS topic,
        |         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events) s
        |GROUP BY topic ORDER BY topic""".stripMargin,
    // every (click, purchase-within-1h) pair from the capped slice
    // final per-user state = the plain batch aggregate
    "q_stream_state" ->
      """SELECT user_id AS uid, count(*) AS n,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1 ORDER BY uid""".stripMargin,
    // the outer join equals the batch LEFT join once the flush event pushes
    // the watermark past every real window; unmatched clicks carry -1
    "q_stream_outer" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |             epoch_ns(ts) // 1000 AS tus
        |           FROM events
        |           WHERE user_id < 100 AND event_id < 4096
        |             AND event_type IN ('click', 'purchase')),
        |c AS (SELECT event_id AS c_eid, user_id AS uid, tus AS ct FROM e
        |      WHERE event_type = 'click'),
        |p AS (SELECT event_id AS p_eid, user_id AS uid, tus AS pt FROM e
        |      WHERE event_type = 'purchase')
        |SELECT c_eid, COALESCE(p_eid, -1) AS p_eid
        |FROM c LEFT JOIN p ON c.uid = p.uid
        |  AND pt >= ct AND pt <= ct + 3600000000
        |ORDER BY c_eid, p_eid""".stripMargin,
    // batch sessionization of the same slice (lag-gap derivation — the
    // same CTE shape as q_events_sessions' oracle, 4h gap)
    "q_stream_sessions" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS t_us FROM events
        |           WHERE user_id < 100 AND event_id < 4096),
        |d AS (SELECT user_id, t_us,
        |   CASE WHEN lag(t_us) OVER (PARTITION BY user_id ORDER BY t_us) IS NULL
        |          OR t_us - lag(t_us) OVER (PARTITION BY user_id ORDER BY t_us) >= 14400000000
        |        THEN 1 ELSE 0 END AS new_s
        |  FROM e),
        |s AS (SELECT user_id, t_us,
        |   sum(new_s) OVER (PARTITION BY user_id ORDER BY t_us
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM d)
        |SELECT user_id, min(t_us) AS start_us, count(*) AS n
        |FROM s GROUP BY user_id, sid ORDER BY user_id, start_us""".stripMargin,
    "q_stream_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |             epoch_ns(ts) // 1000 AS tus
        |           FROM events
        |           WHERE user_id < 100 AND event_id < 4096
        |             AND event_type IN ('click', 'purchase')),
        |c AS (SELECT event_id AS c_eid, user_id AS uid, tus AS ct FROM e
        |      WHERE event_type = 'click'),
        |p AS (SELECT event_id AS p_eid, user_id AS uid, tus AS pt FROM e
        |      WHERE event_type = 'purchase')
        |SELECT c_eid, p_eid
        |FROM c JOIN p ON c.uid = p.uid
        |  AND pt >= ct AND pt <= ct + 3600000000
        |ORDER BY c_eid, p_eid""".stripMargin,
    // 10-minute tumbling windows over the capped slice, in exact micros
    "q_stream_window" ->
      """WITH e AS (SELECT event_type, epoch_ns(ts) // 1000 AS tus
        |           FROM events WHERE event_id < 4096)
        |SELECT tus - tus % 600000000 AS w_us, event_type, count(*) AS n
        |FROM e GROUP BY 1, 2 ORDER BY w_us, event_type""".stripMargin,
    // the unioned drain sees BOTH topics' full logs, tagged
    "q_stream_multi" ->
      """SELECT CASE WHEN event_id % 2 = 0 THEN 'a' ELSE 'b' END AS topic,
        | event_type, count(*) AS n
        |FROM events WHERE event_id < 2048
        |GROUP BY 1, 2 ORDER BY topic, event_type""".stripMargin,
    // stateful streaming dedup emits exactly one row per key
    "q_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events WHERE event_id < 4096
        |ORDER BY user_id, event_type""".stripMargin,
    // the micro-batch stream drains exactly the produced log: dense ids per
    // partition, across ≥2 admission-bounded batches
    "q_stream_drain" ->
      """SELECT CAST(event_id % 4 AS INT) AS partition, count(*) AS cnt,
        | CAST(0 AS BIGINT) AS min_id, count(*) - 1 AS max_id, count(*) AS n_distinct,
        | true AS multi_batch
        |FROM events GROUP BY 1 ORDER BY partition""".stripMargin,
    // byte admission changes batching, never content: same drain oracle
    "q_stream_bytes" ->
      """SELECT CAST(event_id % 4 AS INT) AS partition, count(*) AS cnt,
        | CAST(0 AS BIGINT) AS min_id, count(*) - 1 AS max_id, count(*) AS n_distinct,
        | true AS multi_batch
        |FROM events GROUP BY 1 ORDER BY partition""".stripMargin,
    // the drain count equals the produced subset, and the walk stays drained
    "q_drain" ->
      """SELECT count(*) AS n_drained, true AS no_more_events FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) < 5""".stripMargin,
  )
}
