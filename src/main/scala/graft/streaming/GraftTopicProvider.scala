package graft.streaming

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, StreamSinkProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.engine.{Catalog, GraftDriver}

/**
 * DSv2 entry point for topic logs: `spark.read.format("graft")` /
 * `spark.readStream.format("graft")` with options:
 *
 *  - `warehouse` (required): the engine warehouse directory
 *  - `topic` (required): topic name
 *  - `consumer` (optional): consumer name — the stream starts from this
 *    consumer's acknowledge cursor instead of id 0 (subscribe semantics,
 *    `/root/reference/src/DefaultPartitionManager.cpp:425-427`)
 *  - `targets` (optional): comma-separated partition subset (F5 targeting)
 *  - `maxEventsPerTrigger` (optional): admission control — the micro-batch
 *    analog of the reference consumer's batch size
 *  - `maxBytesPerTrigger` (optional): byte-shaped admission control at
 *    whole-chunk-file granularity (at least one file per trigger) — the
 *    consumer-side analog of the reference producer's byte-sized queue
 *    backpressure (`ActiveProducerBatchQueue.hpp:70-72`); composable with
 *    `maxEventsPerTrigger` (both caps apply)
 *  - `startingTimeField` + `startingTimeCutoff` (optional, together):
 *    start the stream at the earliest event whose metadata field (a JSON
 *    path like `$.ts`, compared as long) is at/past the cutoff — Kafka's
 *    `startingTimestamp` analog. Applies on FRESH starts only; an
 *    existing checkpoint's offsets take precedence, exactly like Kafka.
 *    Mutually exclusive with `consumer` (two different notions of where
 *    to begin)
 *    (`ActiveProducerBatchQueue.hpp` adaptive batching, S3)
 *
 * The streaming read is the Spark-native port of `feedConsumer`
 * (`DefaultPartitionManager.cpp:415-504`): offsets are per-partition next
 * EventIDs, each micro-batch plans one input slice per topic partition, and
 * a completed topic ends an `Trigger.AvailableNow` query (NoMoreEvents, D5).
 *
 * The streaming WRITE path (`df.writeStream.format("graft")`) is a
 * driver-coordinated per-batch sink (the `StreamSinkProvider` surface —
 * the same route Delta's streaming sink takes): each micro-batch arrives as
 * one DataFrame and flows through `Producer.produce` + the sink-marker
 * idempotence of [[GraftSink.produceBatch]]. A task-parallel DSv2
 * `StreamingWrite` is architecturally wrong here — dense per-partition id
 * assignment is ONE coordinated job per batch (the reference's write-queue
 * linearization), not N independent task writers. Write options:
 *
 *  - `warehouse`, `topic` (required, as for reads)
 *  - `sinkId` (optional): stable id of this logical stream for replay
 *    idempotence; defaults to a hash of `checkpointLocation`, which has
 *    exactly the required lifetime (one checkpoint lineage = one sinkId —
 *    see `GraftSink`'s contract)
 */
final class GraftTopicProvider extends TableProvider with DataSourceRegister
  with StreamSinkProvider with CreatableRelationProvider {

  override def shortName(): String = "graft"

  /** `df.write.format("graft").mode("append")` — batch append = one
    * `produce()` (the same contract as the catalog table's INSERT path;
    * DataFrameWriter.save routes path-less V1 writes here). Append is the
    * ONLY mode: a topic is an append-only log, and ErrorIfExists/Ignore
    * keyed on "table existence" have no meaning for a produce. */
  override def createRelation(sqlContext: SQLContext,
                              mode: org.apache.spark.sql.SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): BaseRelation = {
    if (mode != org.apache.spark.sql.SaveMode.Append)
      throw new UnsupportedOperationException(
        s"""write.format("graft") supports mode("append") only (got $mode) — topics are append-only logs""")
    def required(key: String): String = parameters.getOrElse(key,
      throw new IllegalArgumentException(s"""write.format("graft") requires option '$key'"""))
    val handle = new GraftDriver(data.sparkSession, required("warehouse"))
      .openTopic(required("topic"))
    import org.apache.spark.sql.functions.col
    val cols = Seq("partition", "metadata", "data").filter(data.columns.contains)
    Predef.require(cols.contains("metadata"),
      "produce() input needs a 'metadata' column")
    handle.producer().produce(data.select(cols.map(col): _*))
    val ctx = sqlContext
    new BaseRelation {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = GraftTopicTable.EventSchema
    }
  }

  override def createSink(sqlContext: SQLContext, parameters: Map[String, String],
                          partitionColumns: Seq[String], outputMode: OutputMode): Sink = {
    def required(key: String): String = parameters.getOrElse(key,
      throw new IllegalArgumentException(s"""writeStream.format("graft") requires option '$key'"""))
    if (outputMode != OutputMode.Append())
      throw new IllegalArgumentException(
        s"graft topics are append-only event logs; got OutputMode $outputMode")
    val sinkId = parameters.get("sinkid")
      .orElse(parameters.get("checkpointlocation").map(p =>
        GraftTopicProvider.checkpointSinkId(
          p, sqlContext.sparkContext.hadoopConfiguration)))
      .getOrElse(throw new IllegalArgumentException(
        """writeStream.format("graft") needs 'sinkId' or 'checkpointLocation'"""))
    new GraftStreamSink(required("warehouse"), required("topic"), sinkId)
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    if (options.getBoolean("readChangeFeed", false)) GraftTopicTable.CdfSchema
    else if (options.getBoolean("rowLineage", false)) GraftTopicTable.LineageSchema
    else GraftTopicTable.EventSchema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val warehouse = require(opts, "warehouse")
    val topic = require(opts, "topic")
    val startField = Option(opts.get("startingTimeField"))
    val startCutoff = Option(opts.get("startingTimeCutoff")).map(_.toLong)
    if (startField.isDefined != startCutoff.isDefined)
      throw new IllegalArgumentException(
        "startingTimeField and startingTimeCutoff must be set together")
    val startingTime = startField.zip(startCutoff)
    if (startingTime.isDefined && opts.get("consumer") != null)
      throw new IllegalArgumentException(
        "options 'consumer' and 'startingTime*' are mutually exclusive — " +
        "a cursor and a timestamp are two different notions of where to begin")
    new GraftTopicTable(warehouse, topic,
      Option(opts.get("consumer")),
      Option(opts.get("targets")).map(_.split(',').map(_.trim.toInt).toSeq),
      Option(opts.get("maxEventsPerTrigger")).map(_.toLong),
      startingTime,
      Option(opts.get("maxBytesPerTrigger")).map(_.toLong),
      asOfVersion = Option(opts.get("asOfVersion")),
      cdf = opts.getBoolean("readChangeFeed", false),
      lineage = opts.getBoolean("rowLineage", false),
      isolation = Option(opts.get("isolation")))
  }

  private def require(opts: CaseInsensitiveStringMap, key: String): String = {
    val v = opts.get(key)
    if (v == null || v.isEmpty)
      throw new IllegalArgumentException(s"format(\"graft\") requires option '$key'")
    v
  }
}

object GraftTopicProvider {
  /** Default sinkId from a checkpoint location: hash of the FULLY-QUALIFIED
    * URI (filesystem scheme + authority resolved), so every spelling of one
    * checkpoint lineage — "/tmp/ckpt", "file:/tmp/ckpt", trailing slash —
    * maps to one idempotence marker. An unnormalized string here would make
    * a respelled restart miss the marker and re-produce a replayed batch. */
  private[streaming] def checkpointSinkId(
      location: String, conf: org.apache.hadoop.conf.Configuration): String = {
    val p = new org.apache.hadoop.fs.Path(location)
    val u = p.getFileSystem(conf).makeQualified(p).toUri
    // rebuild scheme://authority/path explicitly: URI renders a null vs
    // empty authority differently ("file:/x" vs "file:///x") even after
    // qualification, and those must not split the lineage
    val canonical = s"${u.getScheme}://${Option(u.getAuthority).getOrElse("")}" +
      (if (u.getPath == "/") "/" else u.getPath.stripSuffix("/"))
    "ckpt-" + java.util.UUID.nameUUIDFromBytes(canonical.getBytes("UTF-8")).toString
  }
}

/** Per-micro-batch streaming sink: produce unless `(topic, sinkId)` already
  * committed this batch id (exactly-once across checkpoint replays, see
  * [[GraftSink]]). */
final class GraftStreamSink(warehouse: String, topic: String, sinkId: String)
  extends Sink {

  override def name(): String = s"graft:$topic"

  // one catalog for the query's lifetime (triggers run one at a time): its
  // first produce into the topic runs the once-per-catalog crash purge,
  // so later triggers commit without listing the log
  private var driver: GraftDriver = _

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val spark = data.sparkSession
    if (driver == null) driver = new GraftDriver(spark, warehouse)
    val handle = driver.openTopic(topic)
    // rewrap the micro-batch rows as a batch DataFrame: produce() runs its
    // own jobs, which the streaming-tagged plan would refuse
    val batch = org.apache.spark.sql.graftshim.Shims.asBatchDataFrame(spark, data)
    GraftSink.produceBatch(handle, sinkId)(batch, batchId)
  }
}

object GraftTopicTable {
  /** The canonical event schema (single definition: [[Catalog.EventSchema]]). */
  val EventSchema: StructType = Catalog.EventSchema

  /** Change-feed schema (`readChangeFeed=true`): events plus the CDF
    * virtuals — `_change_type` ('insert' | 'delete'), `_commit_version`,
    * `_commit_timestamp` — computed by the reader, never stored
    * ([[GraftCdf]]; the Delta CDF column triple). */
  val CdfSchema: StructType = StructType(EventSchema.fields ++ Seq(
    StructField(GraftCdf.ChangeTypeColumn, StringType, nullable = false),
    StructField(GraftCdf.CommitVersionColumn, LongType, nullable = true),
    StructField(GraftCdf.CommitTimestampColumn, TimestampType, nullable = true)))

  /** Row-lineage schema (`rowLineage=true`): a PLAIN read (vectors
    * applied, inserts only) whose rows additionally carry the commit
    * attribution pair. On batch reads the same columns are available as
    * metadata columns; this load-time schema form exists for STREAMS,
    * where DSv2 resolves metadata columns in the plan but never re-prunes
    * the streaming scan with them (runtime array-index crash) — so commit
    * lineage on a stream must be part of the table schema, the
    * readChangeFeed pattern minus the change-type semantics. */
  val LineageSchema: StructType = StructType(EventSchema.fields ++ Seq(
    StructField(GraftCdf.CommitVersionColumn, LongType, nullable = true),
    StructField(GraftCdf.CommitTimestampColumn, TimestampType, nullable = true)))

  /** Metadata column (`SupportsMetadataColumns`): the chunk file a row was
    * read from — the engine's `input_file_name` analog, surfaced per-file
    * as a constant column by the reader (no per-row cost). */
  val FileColumn: String = "_file"

  /** Metadata column: the row's STORED partition, always non-null — the
    * row-identity twin of the (ingest-optional, hence nullable) `partition`
    * data column. Spark's delta-based row-level protocol requires non-null
    * row-id attributes, so MERGE/UPDATE/DELETE identify rows by
    * `(_row_partition, event_id)` (the Iceberg position-delta shape: row
    * ids drawn from metadata columns) while INSERT actions stay free to
    * assign `partition = NULL` and let the topic's selector route the row.
    * Emitted per-slice as a constant, exactly like `partition`. */
  val RowPartitionColumn: String = "_row_partition"
}

final class GraftTopicTable(
    warehouse: String, topic: String,
    consumer: Option[String], targets: Option[Seq[Int]],
    maxEventsPerTrigger: Option[Long],
    startingTime: Option[(String, Long)] = None,
    maxBytesPerTrigger: Option[Long] = None,
    asOfIds: Option[Map[Int, Long]] = None,
    asOfVersion: Option[String] = None,
    cdf: Boolean = false,
    lineage: Boolean = false,
    isolation: Option[String] = None)
  extends Table with SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDelete
  with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
  with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** SQL `MERGE INTO` / row-level `UPDATE` (delta-based: matched rows are
    * vector-deleted, new rows produced — [[graft.sql.GraftRowLevelOperation]]).
    * Simple `DELETE WHERE` keeps preferring the [[SupportsDelete]] filter
    * path (no row-id join needed). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    if (cdf) throw new UnsupportedOperationException(
      "MERGE/UPDATE target cannot be a change-feed read")
    new org.apache.spark.sql.connector.write.RowLevelOperationBuilder {
      override def build(): org.apache.spark.sql.connector.write.RowLevelOperation =
        new graft.sql.GraftRowLevelOperation(warehouse, topic, info.command())
    }
  }

  override def name(): String = s"graft:$topic"
  override def schema(): StructType =
    if (cdf) GraftTopicTable.CdfSchema
    else if (lineage) GraftTopicTable.LineageSchema
    else GraftTopicTable.EventSchema

  /** `_file` (SELECT `_file` FROM cat.topic / df.select("_file")): the chunk
    * file each event was read from — lineage/debug surface with zero
    * per-row cost (the reader emits it as a per-file constant, exactly like
    * the directory-derived `partition` column). `_commit_version` /
    * `_commit_timestamp` (row tracking): the retained commit that produced
    * each row, attributed by id against the version watermarks — the same
    * per-row rule as the change feed, without switching the read to CDF
    * semantics (deletion vectors still apply). All only read when
    * requested: column pruning drops them like any data column. On a CDF
    * read the commit columns are REGULAR schema columns, so only `_file`
    * is offered as metadata there. BATCH reads only: Spark's DSv2
    * streaming path resolves metadata columns in the plan but never
    * re-prunes the stream's scan with them — streams read commit
    * attribution via `readChangeFeed=true` instead. */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = {
    def metaCol(colName: String, dt: org.apache.spark.sql.types.DataType,
                nullable: Boolean, about: String) =
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = colName
        override def dataType(): org.apache.spark.sql.types.DataType = dt
        override def isNullable: Boolean = nullable
        override def comment(): String = about
      }
    val fileCol = metaCol(GraftTopicTable.FileColumn, StringType,
      nullable = false, "chunk file this event was read from")
    val rowPartCol = metaCol(GraftTopicTable.RowPartitionColumn, IntegerType,
      nullable = false, "stored partition (non-null row-identity column)")
    if (cdf || lineage) Array(fileCol, rowPartCol)
    else Array(fileCol, rowPartCol,
      metaCol(GraftCdf.CommitVersionColumn, LongType, nullable = true,
        "retained commit that produced this row"),
      metaCol(GraftCdf.CommitTimestampColumn, TimestampType, nullable = true,
        "commit time of the retained commit that produced this row"))
  }

  /** `SHOW TBLPROPERTIES` / DESCRIBE EXTENDED surface: the persisted topic
    * descriptor triple + partition count + completion flag, the same JSON
    * strings CREATE TABLE takes — DDL round-trips. Read on demand (these
    * paths are interactive, not per-scan). */
  override def properties(): util.Map[String, String] = {
    val cfg = new Catalog(SparkSession.active, warehouse).openTopic(topic)
    def compact(o: org.json4s.JObject): String =
      org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(o))
    java.util.Map.of(
      "partitions", cfg.partitions.toString,
      "validator", compact(cfg.validator),
      "selector", compact(cfg.selector),
      "serializer", compact(cfg.serializer),
      "completed", cfg.completed.toString,
      "warehouse", warehouse)
  }

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE).asJava

  /** Per-read options (spark.read/.readStream `.option(...)` on a
    * catalog-loaded table) MERGE with the table's constructor values —
    * option wins where given, so `readStream.option("maxEventsPerTrigger",
    * ...).table("cat.topic")` behaves exactly like the format("graft")
    * path instead of silently dropping admission/targeting knobs. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val catalog = new Catalog(SparkSession.active, warehouse)
    def opt(key: String): Option[String] = Option(options.get(key))
    val effStartingTime = (opt("startingTimeField"), opt("startingTimeCutoff")) match {
      case (Some(f), Some(c)) => Some((f, c.toLong))
      case (None, None) => startingTime
      case _ => throw new IllegalArgumentException(
        "startingTimeField and startingTimeCutoff must be set together")
    }
    // time travel: version-valued read options resolve to watermarks HERE
    // — scan build time — so version reads through every surface share one
    // resolution path; a catalog-resolved pin (GraftCatalog
    // loadTable(ident, version)) arrives already as `asOfIds`.
    //  - asOfVersion / endingVersion: INCLUSIVE upper pin (events visible
    //    AT that commit — VERSION AS OF);
    //  - startingVersion: EXCLUSIVE lower pin (events produced AFTER that
    //    commit — the incremental-export resume semantic of
    //    events(from, to); on a stream, where the stream is born).
    def parseVersion(key: String, v: String): Long =
      try v.trim.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$key must be a commit version number (see TopicHandle.history()), got '$v'")
      }
    def resolveVersion(key: String, v: String): Map[Int, Long] =
      catalog.watermarkAsOf(topic, parseVersion(key, v))
    def versionOpt(key: String): Option[Map[Int, Long]] =
      opt(key).map(resolveVersion(key, _))
    if (opt("asOfVersion").isDefined && opt("endingVersion").isDefined)
      throw new IllegalArgumentException(
        "asOfVersion and endingVersion are the same pin — set one")
    val effAsOf = versionOpt("asOfVersion").orElse(versionOpt("endingVersion"))
      .orElse(asOfVersion.map(resolveVersion("asOfVersion", _)))
      .orElse(asOfIds)
    val effConsumer = opt("consumer").orElse(consumer)
    val effStarting = versionOpt("startingVersion")
    if (effStarting.isDefined && effConsumer.isDefined)
      throw new IllegalArgumentException(
        "options 'consumer' and 'startingVersion' are mutually exclusive — " +
        "a cursor and a commit pin are two different notions of where to begin")
    if (effStarting.isDefined && effStartingTime.isDefined)
      throw new IllegalArgumentException(
        "options 'startingVersion' and startingTime* are mutually exclusive")
    // change-data-feed internals (TopicHandle.changes composes these):
    //  - applyDeletionVectors=false — the raw log (insert preimages);
    //  - cdfDeleteRoot=<path>       — ONLY that vector root's delete
    //    preimages (reader filter inverted, window clamped to the root);
    //  - cdfDeleteSource=<v>:<ms>   — narrow a FOLD root to one of its
    //    folded delete commits (by its (_v, _ms) stamp)
    val cdfSource: Option[(Long, Long)] = opt("cdfDeleteSource").map { s =>
      s.split(':') match {
        case Array(v, ms) => (v.toLong, ms.toLong)
        case _ => throw new IllegalArgumentException(
          s"cdfDeleteSource must be '<version>:<millis>', got '$s'")
      }
    }
    val effDeleteMode: GraftDeleteMode =
      (opt("applyDeletionVectors"), opt("cdfDeleteRoot")) match {
        case (_, Some(root)) => GraftDeleteMode.Only(root, cdfSource)
        case (Some(v), None) if v.equalsIgnoreCase("false") => GraftDeleteMode.Ignore
        case (Some(v), None) if v.equalsIgnoreCase("true") => GraftDeleteMode.Apply
        case (Some(v), None) => throw new IllegalArgumentException(
          s"applyDeletionVectors must be true|false, got '$v'")
        case (None, None) => GraftDeleteMode.Apply
      }
    // readChangeFeed=true: the scan-level change feed (GraftCdf) — events
    // plus _change_type/_commit_version/_commit_timestamp, batch and
    // streaming. The flag must arrive at LOAD time (format("graft") or
    // getTable properties), because it widens the table SCHEMA; a read
    // option on a catalog-resolved table can't grow resolved output.
    val effCdf = options.getBoolean("readChangeFeed", cdf)
    if (effCdf && !cdf) throw new IllegalArgumentException(
      s"topic '$topic': readChangeFeed must be set when the table is " +
      "loaded — spark.read/readStream.format(\"graft\")" +
      ".option(\"readChangeFeed\", \"true\") — not as a per-scan option " +
      "on a catalog table (the change columns are part of the schema); " +
      "or use TopicHandle.changes(from, to)")
    if (effCdf && effConsumer.isDefined) throw new IllegalArgumentException(
      "options 'consumer' and 'readChangeFeed' are mutually exclusive — " +
      "a change feed positions by commit version (startingVersion), not a cursor")
    if (effCdf && effStartingTime.isDefined) throw new IllegalArgumentException(
      "options 'readChangeFeed' and startingTime* are mutually exclusive — " +
      "a change feed positions by commit version (startingVersion)")
    if (effCdf && effDeleteMode != GraftDeleteMode.Apply)
      throw new IllegalArgumentException(
        "readChangeFeed already reads raw inserts and delete preimages — " +
        "applyDeletionVectors/cdfDeleteRoot don't compose with it")
    // isolation (Kafka isolation.level analog, batch reads): per-scan
    // option > load-time table option > session conf (the SQL surface:
    // `SET spark.graft.read.isolation=read_committed` flips every catalog
    // table read in the session). read_committed excludes every id range
    // recorded by a transaction that has not committed — local records
    // and cross-topic remote shares alike.
    val effIsolation = opt("isolation").orElse(isolation)
      .orElse(SparkSession.active.conf.getOption("spark.graft.read.isolation"))
      .getOrElse("read_uncommitted")
    val effReadCommitted = effIsolation match {
      case "read_uncommitted" => false
      case "read_committed" => true
      case other => throw new IllegalArgumentException(
        s"isolation must be read_committed | read_uncommitted, got '$other'")
    }
    if (effReadCommitted && effCdf) throw new IllegalArgumentException(
      "options 'isolation=read_committed' and 'readChangeFeed' don't " +
      "compose — a change feed surfaces raw history (inserts and delete " +
      "preimages), not a committed point-in-time view")
    if (effReadCommitted && effDeleteMode != GraftDeleteMode.Apply)
      throw new IllegalArgumentException(
        "isolation=read_committed doesn't compose with " +
        "applyDeletionVectors=false/cdfDeleteRoot — those are raw-history reads")
    val startingVerNum = opt("startingVersion").map(parseVersion("startingVersion", _))
    val endingVerNum = opt("endingVersion").orElse(opt("asOfVersion"))
      .orElse(asOfVersion).map(parseVersion("endingVersion", _))
    new GraftScanBuilder(catalog, topic,
      effConsumer,
      opt("targets").map(_.split(',').map(_.trim.toInt).toSeq).orElse(targets),
      opt("maxEventsPerTrigger").map(_.toLong).orElse(maxEventsPerTrigger),
      effStartingTime,
      opt("maxBytesPerTrigger").map(_.toLong).orElse(maxBytesPerTrigger),
      effAsOf,
      effStarting,
      effDeleteMode,
      cdf = effCdf,
      startingVerNum = startingVerNum,
      endingVerNum = endingVerNum,
      lineage = lineage,
      readCommitted = effReadCommitted)
  }

  /** `DELETE FROM cat.topic WHERE …` = the engine's compliance delete
    * ([[graft.engine.Catalog.purgeTopic]]): id gaps are the semantic, the
    * rewrite runs under the compact lock, and `coalesce(cond, false)`
    * three-valued-logic hygiene applies — exactly the `deleteWhere` handle
    * API, reachable from pure SQL (the GDPR path for SQL-first users).
    *
    * Predicate translation is deliberately conservative: `partition` and
    * `event_id` filters always translate; `metadata` filters only on
    * default-serializer topics — the purge condition evaluates over the
    * STORED form, and silently matching encoded bytes against a
    * consumer-view literal would delete the wrong rows. Untranslatable
    * predicates make `canDeleteWhere` return false, so Spark fails the
    * DELETE loudly instead of this table guessing. */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(deleteCond(_).isDefined)

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    import org.apache.spark.sql.functions.lit
    val spark = SparkSession.active
    val handle = new GraftDriver(spark, warehouse).openTopic(topic)
    val cond = filters.flatMap(deleteCond(_))
      .reduceOption(_ && _)
      .getOrElse(lit(true)) // DELETE with no WHERE (or TRUNCATE): purge all
    // `SET spark.graft.delete.mode=vector` routes SQL DELETE to the
    // merge-on-read path (deletion vector, no log rewrite — the scale
    // and tiered-topic option); the default stays the physical rewrite
    spark.conf.get("spark.graft.delete.mode", "rewrite") match {
      case "rewrite" => handle.deleteWhere(cond)
      case "vector" => handle.deleteWhereVectored(cond): Unit
      case other => throw new IllegalArgumentException(
        s"spark.graft.delete.mode must be rewrite|vector, got '$other'")
    }
  }

  /** Stored metadata equals the consumer view only under the default
    * serializer — read once per table instance, only when a metadata
    * predicate actually appears. */
  private lazy val plainMetadata: Boolean = {
    val cfg = new Catalog(SparkSession.active, warehouse).openTopic(topic)
    cfg.serializer == graft.engine.TopicConfig.DefaultSerializer
  }

  private def deleteCond(f: org.apache.spark.sql.sources.Filter)
      : Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.sources._
    def attr(name: String): Option[Column] = name match {
      case "partition" | "event_id" => Some(col(name))
      case "metadata" if plainMetadata => Some(col(name))
      case _ => None
    }
    f match {
      case EqualTo(a, v) => attr(a).map(_ === lit(v))
      case GreaterThan(a, v) => attr(a).map(_ > lit(v))
      case GreaterThanOrEqual(a, v) => attr(a).map(_ >= lit(v))
      case LessThan(a, v) => attr(a).map(_ < lit(v))
      case LessThanOrEqual(a, v) => attr(a).map(_ <= lit(v))
      case In(a, vs) => attr(a).map(_.isin(vs.toIndexedSeq: _*))
      case IsNull(a) => attr(a).map(_.isNull)
      case IsNotNull(a) => attr(a).map(_.isNotNull)
      case StringStartsWith(a, v) => attr(a).map(_.startsWith(v))
      case StringEndsWith(a, v) => attr(a).map(_.endsWith(v))
      case StringContains(a, v) => attr(a).map(_.contains(v))
      case And(l, r) => for (lc <- deleteCond(l); rc <- deleteCond(r)) yield lc && rc
      case Or(l, r) => for (lc <- deleteCond(l); rc <- deleteCond(r)) yield lc || rc
      case Not(c) => deleteCond(c).map(!_)
      case _: AlwaysTrue => Some(lit(true))
      case _: AlwaysFalse => Some(lit(false))
      case _ => None
    }
  }

  /** Batch append = one `produce()` (`INSERT INTO` through the SQL catalog,
    * or `df.write.format("graft").mode("append")`). The produce path is
    * DRIVER-coordinated by design — dense id assignment, the produce lock,
    * crash hygiene and the manifest commit are one linearized commit (the
    * reference's write-queue, `DefaultPartitionManager.cpp:398-409`) — so
    * the write plugs in via the V1 insert bridge rather than a distributed
    * DataWriter commit protocol that produce() would have to fight.
    *
    * Contract: `event_id` values in the inserted rows are IGNORED — ids
    * are engine-assigned, dense per partition (S6); `partition` is the
    * REQUESTED partition, routed through the topic's selector policy (X1:
    * honored mod N for round-robin topics); validation/serialization run
    * exactly as in every other produce (F1-F3, Z1). No overwrite/truncate:
    * a topic is an append-only log. */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
            new org.apache.spark.sql.sources.InsertableRelation {
              override def insert(data: org.apache.spark.sql.DataFrame,
                                  overwrite: Boolean): Unit = {
                if (overwrite) throw new UnsupportedOperationException(
                  s"graft topic '$topic' is an append-only log — INSERT OVERWRITE is not supported")
                val handle = new GraftDriver(data.sparkSession, warehouse).openTopic(topic)
                import org.apache.spark.sql.functions.col
                handle.producer().produce(
                  data.select(col("partition"), col("metadata"), col("data"))): Unit
              }
            }
        }
    }
}
