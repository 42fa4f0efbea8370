package graft.sql

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.engine.{Catalog, FileCreate, MergeCommit}
import graft.streaming.GraftTopicTable

/**
 * SQL `MERGE INTO` (and row-level `UPDATE`/`DELETE`) for graft topics —
 * the merge-on-read composition the append-only log supports natively:
 * matched rows are DELETION-VECTORED (tombstoned, zero chunk files
 * touched) and new/updated rows are PRODUCED as a fresh commit with
 * dense, engine-assigned ids. Plugged in through Spark's delta-based
 * row-level-operation surface ([[SupportsDelta]]), so Catalyst plans the
 * match join, the cardinality check, and the per-row action column; the
 * engine only ever sees "delete these row ids, insert these rows".
 *
 * Scale shape: executors stream their actions into per-task STAGED
 * parquet files under the topic (never through driver memory); the
 * commit turns them into one produce commit + one vector-delete commit,
 * CRASH-ATOMIC across the pair via a persisted merge intent that
 * [[graft.engine.Catalog.reconcileProduceState]] rolls forward or back
 * (see [[graft.engine.MergeCommit]] for the protocol). An UPDATE
 * therefore rewrites O(matched) rows, not the log, and the updated rows
 * move to the partition tail with NEW ids — the documented semantics of
 * an append-only log (ids are assigned by the engine; `event_id` values
 * in INSERT actions are accepted and ignored). An INSERT with no (or
 * NULL) `partition` routes through the topic's partition selector at
 * produce time, exactly like every other ingest path.
 *
 * A SQL `DELETE` whose predicate the metadata path cannot translate
 * ([[graft.streaming.GraftTopicTable.canDeleteWhere]] rejects it) also
 * plans through here — a pure-delete merge, executed as one vector-delete
 * commit (merge-on-read, independent of `spark.graft.delete.mode`).
 *
 * Concurrency: row-level operations are OPTIMISTICALLY conflict-checked
 * (the Delta WriteSerializable shape) — the commit aborts, before
 * anything is visible, if rows were removed since the plan's snapshot
 * (another row-level operation's vector delete, or a log rewrite);
 * concurrent plain appends never conflict. See
 * [[graft.engine.MergeCommit.commit]].
 *
 * Scale shape of the match join: Catalyst plans
 * `target RIGHT OUTER source` (delta rewrites only need matched targets
 * plus all source rows). A right-outer join cannot broadcast its right
 * side, so an ON clause over derived metadata keys sort-merge-joins the
 * full target — the same cost Delta pays without file-pruning stats. ON
 * clauses that constrain `partition` / `event_id` prune the target scan
 * through the pushed filters like any other read.
 *
 * Reference analog: none — the reference's producers are append-only
 * (`MofkaProducer.hpp` has no update surface); MERGE is part of this
 * engine's lakehouse extension.
 */
final class GraftRowLevelOperation(
    warehouse: String, topic: String,
    cmd: RowLevelOperation.Command)
  extends RowLevelOperation with SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd

  /** The target-side read is a normal topic scan (vectors applied, so
    * already-deleted rows can never re-match). Pending merge intents are
    * decided FIRST: a MERGE retried inside a torn predecessor's
    * transient-duplicate window would otherwise match BOTH the original
    * and the replacement row per key and insert duplicates the pending
    * roll-forward never removes. An intent that SURVIVES recovery — a
    * live concurrent merge mid-commit, or a hard-crashed driver whose
    * heartbeat marker has not yet gone stale — refuses this plan loudly:
    * planning over an undecided commit pair is the one thing a row-level
    * operation must never do. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val catalog = new Catalog(SparkSession.active, warehouse)
    // Statement-level patience at PLAN time, matching the commit-time
    // loop ([[graft.engine.MergeCommit]]): a concurrent statement that is
    // merely mid-commit clears within moments, so this plan WAITS for the
    // intents to decide (bounded by [[Catalog.mergeCommitWaitMs]], catalog-scoped) instead
    // of erroring — two upsert streams interleaving on one topic then
    // queue like Delta's, no caller retry loops. The refusal on timeout
    // stays loud and typed: planning over an undecided commit pair is the
    // one thing a row-level operation must never do.
    val deadline = System.currentTimeMillis() + catalog.mergeCommitWaitMs
    // recoverPendingMerges can itself hit transient typed contention (e.g.
    // the roll-forward's vector commit refusing under a foreign live
    // compaction) — that is exactly the condition this loop exists to
    // outwait, so a conflict inside recovery retries under the same
    // deadline instead of escaping and bypassing the bounded wait. The
    // sentinel re-enters the loop with intents still listed, so the
    // timeout refusal below stays loud either way.
    def settle(): Map[String, graft.engine.MergeIntent] =
      try { catalog.recoverPendingMerges(topic); catalog.listMergeIntents(topic) }
      catch { case _: graft.engine.LockConflictException =>
        catalog.listMergeIntents(topic) match {
          case m if m.nonEmpty => m
          case _ => Map("(recovery blocked by a live lock)" -> null)
        }
      }
    var pending = settle()
    while (pending.nonEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(250L)
      pending = settle()
    }
    if (pending.nonEmpty) throw new graft.engine.ConcurrentMergeException(
      s"topic '$topic': a MERGE/UPDATE/DELETE commit pair is still " +
      s"undecided (intents: ${pending.keys.mkString(", ")}) — another " +
      "merge is in flight, or one crashed within the staleness horizon. " +
      "Retry after it completes; a crashed one is recovered at the next " +
      "write-path entry once its heartbeat goes stale.")
    plannedVersion = Some(catalog.versionHistory(topic)
      .lastOption.map(_.version).getOrElse(-1L))
    new GraftTopicTable(warehouse, topic,
      consumer = None, targets = None, maxEventsPerTrigger = None)
      .newScanBuilder(options)
  }

  /** Snapshot version the target scan planned against — read at commit
    * time for the optimistic conflict check ([[graft.engine.MergeCommit]]).
    * -1 = planned against an empty topic (no commits yet). */
  @volatile private var plannedVersion: Option[Long] = None

  /** Row identity = the engine's primary key: (partition, event_id) —
    * expressed through the non-null `_row_partition` METADATA column
    * (Spark's delta protocol refuses nullable row-id attributes; the
    * `partition` DATA column is nullable because it is optional at
    * ingest). The Iceberg position-delta shape: metadata-column row ids. */
  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(GraftTopicTable.RowPartitionColumn),
      Expressions.column("event_id"))

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        // thunk, not value: the scan builds during planning, the version
        // is read at commit time
        new GraftDeltaWrite(warehouse, topic, info.schema(), () => plannedVersion)
    }
}

private final class GraftDeltaWrite(
    warehouse: String, topic: String, rowSchema: StructType,
    plannedVersion: () => Option[Long])
  extends DeltaWrite {
  override def toBatch: DeltaBatchWrite =
    new GraftDeltaBatchWrite(warehouse, topic, rowSchema, plannedVersion)
  override def description(): String = s"graft merge into $topic"
}

private final class GraftDeltaBatchWrite(
    warehouse: String, topic: String, rowSchema: StructType,
    plannedVersion: () => Option[Long])
  extends DeltaBatchWrite {

  private val stagingDir: String = {
    val spark = SparkSession.active
    val base = new Catalog(spark, warehouse).topicPath(topic)
    new Path(base,
      s"tmp-merge-${java.util.UUID.randomUUID().toString.take(12)}").toString
  }
  /** Full driver Hadoop-conf snapshot: executor-side staging writers need
    * the same filesystem settings — s3a credentials/endpoints, HDFS
    * nameservices — as driver planning (one shared snapshot rule). */
  private val confEntries: Array[(String, String)] =
    graft.streaming.GraftReaderFactory.confSnapshot(
      SparkSession.active.sparkContext.hadoopConfiguration)

  /** Liveness marker + heartbeat: vacuum reaps `tmp-merge-*` staging only
    * once `_inprogress` ages past the staleness horizon — a live slow
    * MERGE (straggler tasks past 30 min) keeps its staged files; a dead
    * driver's heartbeat stops and the debris ages out. The same marker
    * tells merge recovery a live driver is still mid-commit. */
  @volatile private var stopHeartbeat: () => Unit = () => ()

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory = {
    val spark = SparkSession.active
    val fs = new Path(stagingDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(stagingDir, "_inprogress")
    FileCreate.touch(fs, marker)
    stopHeartbeat = Catalog.startFileHeartbeat(fs, marker)
    new GraftDeltaWriterFactory(stagingDir, rowSchema, confEntries)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val files = messages.collect { case m: GraftMergeTaskResult => m }
    try {
      MergeCommit.commit(spark, warehouse, topic,
        files.flatMap(_.file).toSeq,
        files.map(_.deletes).sum, files.map(_.inserts).sum, stagingDir,
        plannedVersion())
      // engine state is final — the staging is fully consumed
      stopHeartbeat()
      dropStagingUnlessIntentOwned(spark, force = true)
    } catch {
      case e: Throwable =>
        // the heartbeat must stop either way; with it stale, a failure
        // that left a decided intent (produce committed, delete pending)
        // is rolled forward by the next produce-path entry — which reads
        // the staging, so it must survive here
        stopHeartbeat()
        dropStagingUnlessIntentOwned(spark, force = false)
        throw e
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    stopHeartbeat()
    dropStagingUnlessIntentOwned(SparkSession.active, force = false)
  }

  /** Delete the staging — unless (`force=false`) a live merge intent still
    * references it, in which case recovery owns the cleanup. When keeping,
    * the `_inprogress` marker is deleted: this driver has definitively
    * abandoned the merge, and a missing marker makes the intent decidable
    * at the very next produce-path entry instead of after the staleness
    * horizon (30 min of the transient-duplicate window for no reason). */
  private def dropStagingUnlessIntentOwned(spark: SparkSession, force: Boolean): Unit = {
    val fs = new Path(stagingDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val keep = !force && MergeCommit.intentReferences(
      spark, warehouse, topic, new Path(stagingDir).getName)
    if (keep) fs.delete(new Path(stagingDir, "_inprogress"), false): Unit
    else fs.delete(new Path(stagingDir), true): Unit
  }
}

private final case class GraftMergeTaskResult(
    file: Option[String], deletes: Long, inserts: Long)
  extends WriterCommitMessage

private final class GraftDeltaWriterFactory(
    stagingDir: String, rowSchema: StructType,
    confEntries: Array[(String, String)])
  extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new GraftMergeTaskWriter(stagingDir, rowSchema, confEntries, partitionId, taskId)
}

/**
 * Executor-side action writer: streams delete/insert actions into ONE
 * per-task staged parquet file (lazily created — an all-noop task writes
 * nothing). Group-API parquet writing keeps this free of Spark's
 * internal writers; the file is tiny relative to the matched data and
 * columnar, so the driver-side commit reads it back pruned.
 */
private final class GraftMergeTaskWriter(
    stagingDir: String, rowSchema: StructType,
    confEntries: Array[(String, String)], partitionId: Int, taskId: Long)
  extends DeltaWriter[InternalRow] {

  // Resolved LAZILY: a delta-based pure DELETE (a SQL DELETE whose
  // predicate the metadata path rejects) hands insert() nothing and its
  // info.schema() carries only the row-id projection — eager fieldIndex
  // lookups here would crash every executor on a missing field.
  private lazy val partIdx = rowSchema.fieldIndex("partition")
  private lazy val metaIdx = rowSchema.fieldIndex("metadata")
  private lazy val dataIdx = rowSchema.fieldIndex("data")

  private var writer: org.apache.parquet.hadoop.ParquetWriter[
    org.apache.parquet.example.data.Group] = _
  private var path: Option[String] = None
  private var deletes = 0L
  private var inserts = 0L
  private val groups = new org.apache.parquet.example.data.simple.SimpleGroupFactory(
    MergeCommit.StagingSchema)

  private def open(): Unit = if (writer == null) {
    val conf = new org.apache.hadoop.conf.Configuration(false)
    confEntries.foreach { case (k, v) => conf.set(k, v) }
    val p = new Path(stagingDir, f"part-$partitionId%05d-$taskId.parquet")
    path = Some(p.toString)
    writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(p, conf))
      .withType(MergeCommit.StagingSchema)
      .withCompressionCodec(org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
  }

  /** `id` rows arrive in [[GraftRowLevelOperation.rowId]] order. */
  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    open()
    val g = groups.newGroup()
    g.add("op", 0)
    g.add("partition", id.getInt(0))
    g.add("event_id", id.getLong(1))
    writer.write(g)
    deletes += 1
  }

  override def insert(row: InternalRow): Unit = {
    open()
    val g = groups.newGroup()
    g.add("op", 1)
    // a NULL partition STAGES THROUGH (the field is optional): produce()
    // routes it through the topic's partition selector / round-robin
    // fallback, the same X1/X2 assignment as every other ingest path —
    // never a silent default partition
    if (!row.isNullAt(partIdx)) g.add("partition", row.getInt(partIdx))
    g.add("event_id", -1L) // engine-assigned at produce
    if (!row.isNullAt(metaIdx))
      g.add("metadata", org.apache.parquet.io.api.Binary.fromConstantByteArray(
        row.getUTF8String(metaIdx).getBytes))
    if (!row.isNullAt(dataIdx))
      g.add("data", org.apache.parquet.io.api.Binary.fromConstantByteArray(
        row.getBinary(dataIdx)))
    writer.write(g)
    inserts += 1
  }

  override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    delete(meta, id)
    insert(row)
  }

  override def commit(): WriterCommitMessage = {
    if (writer != null) writer.close()
    GraftMergeTaskResult(path, deletes, inserts)
  }

  override def abort(): Unit = close()

  override def close(): Unit = if (writer != null) { writer.close(); writer = null }
}
