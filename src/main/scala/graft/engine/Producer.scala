package graft.engine

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.graftshim.Shims.HadoopConfBroadcast
import org.apache.spark.sql.types._

/** One chunk file a produce write task wrote: `file` under
  * `partition=<partition>/` of the write's staging dir, holding the dense
  * ids `[first, last]` (`rows` of them). The commit moves and registers
  * exactly these files. */
final case class ChunkReport(partition: Int, file: String, first: Long,
                             last: Long, rows: Long) {
  /** Path relative to the staging dir and to the log. */
  def rel: String = s"partition=$partition/$file"
}

/**
 * Producer write path (reference S1-S6): validate → select partition →
 * assign dense per-partition EventIDs → append Parquet.
 *
 * ID assignment is the port of the reference's linearization contract
 * (`/root/reference/src/DefaultPartitionManager.cpp:398-409`: ids assigned
 * under a queue lock, appends serialized by one write loop per partition):
 * here every event of a partition flows through ONE write task, sorted by
 * producer push order, and the task numbers the events as it appends them
 * to the partition's chunk files, so ids are dense and ordered by push order
 * within the partition. N CONCURRENT producers per topic are supported (the
 * reference's many-clients shape, `ProviderImpl.hpp:137-160`): ids are
 * reserved under a brief lock, data writes run unlocked into private
 * staging, and commits apply in reservation order — see Catalog's
 * "concurrent produce intents" section.
 *
 * Report-driven commit (the shape of Structured Streaming's file sink): the
 * write tasks write their chunk files straight into a private staging dir,
 * with no Hadoop output committer, and each returns a [[ChunkReport]] per
 * file — partition, file name, first/last id, rows. The commit moves exactly
 * the reported files into the log and registers them in the manifest with
 * their reported id ranges, so a failed or duplicate task attempt's files
 * are never moved or adopted, and no footer of a fresh chunk is re-read.
 *
 * Scale shape (100 TB): exactly one shuffle of the incoming batch (by target
 * partition — unavoidable: that IS the partitioning operator), plus a cheap
 * map-side-combined count pass to advance the id watermark. Files are
 * bounded at `chunkMaxRecords` rows — the analog of the reference's 64 MiB /
 * 1M-event chunk rotation (`DefaultPartitionManager.hpp:29-30`).
 *
 * @param ordering "strict" | "loose" — carried for API parity with the
 *        reference (`include/mofka/MofkaProducer.hpp:37`); both modes funnel
 *        through the same per-partition linearization there
 *        (`MofkaProducer.cpp:72-96`) and here, so behavior is identical.
 */
final class Producer(
    spark: SparkSession,
    catalog: Catalog,
    config: TopicConfig,
    chunkMaxRecords: Long = 1000000L,
    batchSize: Option[Int] = None,
    val ordering: String = "strict") {

  require(ordering == "strict" || ordering == "loose",
    s"ordering must be 'strict' or 'loose', got '$ordering'")

  /** Label the jobs an engine phase launches (guide §1.5) — thread-local,
    * restored so caller descriptions are preserved. */
  private def described[T](desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(prev)
  }

  private val validator = Validator.fromDescriptor(config.validator)
  private val selector = PartitionSelector.fromDescriptor(config.selector)
  private val serializer = Serializer.fromDescriptor(config.serializer)
  private val n = config.partitions

  /** Per-partition (firstId, count) ranges assigned by a produce call. */
  type ProduceResult = Map[Int, (Long, Long)]

  /**
   * Batch produce. `df` must have a `metadata` string column; optional
   * `data` binary column; optional `partition` int column (explicit request,
   * honored modulo the partition count); optional `__order` long column —
   * when present, per-partition id assignment follows it instead of input
   * row order, so a caller with a natural order key can pass the batch
   * UNSORTED and skip a global sort exchange (see stageAndCount). `__order`
   * is consumed by the produce and never written to the log.
   *
   * Invalid metadata (validator predicate false) aborts the job via
   * `raise_error` — the Spark analog of `Producer.push` throwing
   * (`MofkaProducer.cpp:69`).
   */
  def produce(df: DataFrame): ProduceResult = {
    // CONCURRENT-SAFE plain produce (the reservation-intent protocol —
    // see Catalog's "concurrent produce intents" section): the produce
    // lock is held only for the id reservation and the ordered commit;
    // the expensive phases (validation/checkpoint/count, then the data
    // write into a private staging dir) run unlocked, so N producers
    // ingest one topic in parallel — the reference's many-clients-per-
    // partition shape (ProviderImpl.hpp:137-160).
    val (staged, counts) = Catalog.profTimed("produce.stageAndCount")(stageAndCount(df))
    // drain courtesy: an exclusive statement actively draining pauses
    // this produce's NEW reservation (liveness only — see
    // [[Catalog.awaitDrainRequestClear]]; commits never pause, so
    // in-flight intents finish and the drain completes in ~1 batch).
    // An empty batch reserves nothing and cannot starve the gate — no
    // reason to make it wait out a drain.
    if (counts.nonEmpty) catalog.awaitDrainRequestClear(config.name)
    // phase 1 (brief lock): entry hygiene + id reservation
    val reserved: Option[(String, Map[Int, Long])] = Catalog.profTimed("produce.reserve") {
      catalog.acquireProduceLock(config.name, catalog.briefLockWaitMs)
      try {
        // decide any crashed transactional/idempotent/concurrent intent
        // before this produce can re-issue ids
        catalog.reconcileProduceState(config.name): Unit
        catalog.failIfCompacting(config.name)
        catalog.purgeUncommitted(config.name)
        if (counts.isEmpty) None else Some(catalog.reserveProduce(config.name, counts))
      } finally catalog.releaseProduceLock(config.name)
    }
    reserved match {
      case None => Map.empty
      case Some((intentId, firstIds)) =>
        try {
          // phase 2 (no lock): the data write, into this intent's private
          // staging dir; a heartbeat keeps the lease fresh however long
          // the Spark job runs
          val hb = catalog.startIntentHeartbeat(config.name, intentId)
          val chunks =
            try writeEvents(staged, firstIds, counts,
              catalog.produceStagingDir(config.name, intentId))
            finally { hb.interrupt(); hb.join(1000) }
          // phase 3 (brief lock, ordered): move the reported chunks into
          // the log + commit
          Catalog.profTimed("produce.commit")(catalog.commitProduceIntent(
            config.name, intentId, firstIds, counts, chunks))
          counts.map { case (p, c) => p -> (firstIds(p), c) }
        } catch {
          case t: Throwable =>
            // leave nothing behind: staging + intent go (idempotent
            // against a janitor rollback racing this)
            try catalog.abandonProduceIntent(config.name, intentId)
            catch { case scala.util.control.NonFatal(_) => () }
            throw t
        }
    }
  }

  /** Produce while the CALLER holds the produce lock (and has already
    * reconciled) — the transactional/idempotent surfaces' entry point.
    * `preCommit` fires once this produce's id ranges are fixed but before
    * any data or watermark write: the intent write of the exactly-once
    * crash contract (see [[graft.engine.TxnRange]]'s file Scaladoc). */
  private[engine] def produceHeld(df: DataFrame,
                                  preCommit: ProduceResult => Unit): ProduceResult =
    produceLocked(df, Some(preCommit))

  /** Phase shared by both produce paths (no lock needed): validate,
    * assign partitions, checkpoint the assignment, count per partition. */
  private def stageAndCount(df: DataFrame): (DataFrame, Map[Int, Long]) = {
    require(df.columns.contains("metadata"), "produce() input needs a 'metadata' column")
    val withData =
      if (df.columns.contains("data")) df
      else df.withColumn("data", lit(null).cast(BinaryType))
    val requested =
      if (df.columns.contains("partition")) col("partition").cast("int")
      else lit(null).cast("int")

    // Validation is fused into the partition expression so it cannot be
    // pruned away and costs no extra pass.
    val valid = validator.predicate(col("metadata"))
    val assigned = coalesce(
      selector.assign(col("metadata"), requested, n),
      pmod(monotonically_increasing_id(), lit(n)).cast("int"))
    val partitionExpr = when(valid, assigned).otherwise(
      raise_error(concat(lit("Invalid metadata rejected by validator: "),
        col("metadata"))).cast("int"))

    // __ord and the round-robin fallback in __p embed
    // monotonically_increasing_id, which is non-deterministic across jobs:
    // the count pass and the write pass MUST observe identical assignments
    // or id ranges gap/collide. localCheckpoint materializes the assignment
    // exactly once and truncates lineage, so re-evaluation (AQE re-plan,
    // task retry against a shuffled/sampled upstream) is impossible; a lost
    // cached block fails the job loudly instead of silently corrupting the
    // id space. Batches are micro-batch sized, so the cached copy is bounded.
    //
    // Explicit push order (r17, guide §2.4 "remove shuffles outright"): a
    // caller column named `__order` (cast to long) REPLACES input row order
    // as the id-assignment order. Without it, a caller that needs
    // deterministic ids must globally SORT its batch — a range exchange
    // (plus its sample pass) per produce whose only purpose is to define
    // `__ord`; with it, the unsorted batch flows straight into staging and
    // each partition's write task sorts by the column instead. Values
    // should be unique per target partition for a well-defined order (ties
    // fall back to the checkpointed block order, which the eager
    // localCheckpoint pins — still deterministic for this produce's two
    // passes). The column is consumed here: it never reaches the log.
    val ordExpr =
      if (withData.columns.contains("__order")) {
        // Fail fast on a misused `__order` (ADVICE r17): a non-numeric
        // column would cast to null long and silently scramble id order
        // (nulls-first, tie-arbitrary) — require a numeric type, and raise
        // on a null value (a null has no defined position).
        val dt = withData.schema("__order").dataType
        require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType],
          s"produce() column '__order' must be numeric (it defines " +
          s"id-assignment order); got ${dt.simpleString}")
        coalesce(col("__order").cast("long"),
          raise_error(lit("produce() column '__order' must not be null: " +
            "it defines id-assignment order")).cast("long"))
      } else monotonically_increasing_id()
    val pre = withData
      .withColumn("__ord", ordExpr)
      .withColumn("__p", partitionExpr)

    // Pass 1 fused into the checkpoint (guide §1.2 "don't compute things
    // twice" / §2.4 "remove passes outright"): the per-partition incoming
    // counts ride the checkpoint materialization as OBSERVED metrics
    // (`__p` is always in [0, n), so n conditional counts cover the space),
    // instead of a second job over the checkpointed blocks. Observed
    // metrics only aggregate successfully-completed tasks, so a task retry
    // cannot double-count. The eager checkpoint stays the validation
    // barrier: bad rows throw there. Topics wide enough that n conditional
    // aggregates per row would outweigh a cheap map-side-combined second
    // pass keep the two-job path.
    // second-pass fallback (wide topics, or an observation the listener bus
    // failed to deliver): the original map-side-combined count job
    def countPass(staged: DataFrame): Map[Int, Long] =
      described(s"graft produce ${config.name}: count") {
        Catalog.profTimed("produce.stage.count") {
          staged.groupBy(col("__p")).count()
            .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        }
      }
    if (n <= Producer.FusedCountMaxPartitions) {
      val obs = org.apache.spark.sql.Observation()
      val aggs = (0 until n).map(i =>
        count(when(col("__p") === i, 1)).as(s"p$i"))
      val staged = described(s"graft produce ${config.name}: stage+count (checkpoint)") {
        Catalog.profTimed("produce.stage.checkpoint") {
          graft.Checkpoints.local(
            pre.observe(obs, aggs.head, aggs.tail: _*), eager = true)
        }
      }
      // Bounded wait on the listener bus (it delivers the observed row
      // asynchronously, normally within ms of the checkpoint action); an
      // undelivered observation (bus overflow — never seen in practice)
      // degrades to the second-pass count job rather than blocking the
      // produce.
      val m: Map[String, Any] = Catalog.profTimed("produce.stage.count") {
        val rowOpt =
          try {
            scala.concurrent.Await.ready(obs.future,
              scala.concurrent.duration.Duration(10, "s")): Unit
            obs.future.value.flatMap(_.toOption)
          } catch { case _: java.util.concurrent.TimeoutException => None }
        rowOpt.map(r => r.schema.fieldNames.zip(r.toSeq).toMap)
          .getOrElse(Map.empty)
      }
      val counts: Map[Int, Long] =
        if (m.isEmpty) countPass(staged)
        else (0 until n).flatMap { i =>
          val c = m(s"p$i").asInstanceOf[Long]
          if (c > 0) Some(i -> c) else None
        }.toMap
      (staged, counts)
    } else {
      val staged = described(s"graft produce ${config.name}: stage (checkpoint)") {
        Catalog.profTimed("produce.stage.checkpoint")(graft.Checkpoints.local(pre, eager = true))
      }
      (staged, countPass(staged))
    }
  }

  /** Pass 2: one shuffle by target partition, then one write task per
    * target partition appends its events, sorted by push order, to chunk
    * files under `dest/partition=<p>/`, numbering them from `firstIds(p)`
    * (dense, push-order) and rotating files at `chunkMaxRecords`. `dest` is
    * always a private staging dir; nothing here touches the live log.
    *
    * The tasks write through Parquet's own `OutputWriterFactory` and report
    * each file they wrote ([[ChunkReport]]); there is no Hadoop output
    * committer, no `_temporary` tree and no `_SUCCESS` marker — the caller's
    * commit moves exactly the reported files. A failed or duplicate task
    * attempt writes under its own file tag and goes unreported, so its
    * files stay in staging and die with it. The reports are checked to
    * tile each partition's reserved range exactly before anything commits.
    *
    * The query runs on a cached AQE-free child session (see
    * [[Producer.writeSession]]), so map stage → sorted write stage is ONE
    * job submission; the exchange width is pinned to the topic's partition
    * count by an explicit `repartition(n, __p)`. */
  private def writeEvents(staged: DataFrame, firstIds: Map[Int, Long],
                          counts: Map[Int, Long], dest: Path): Seq[ChunkReport] =
    Catalog.profTimed("produce.write") {
      val ws = Producer.writeSession(spark)
      val (rows, factory, conf) = Catalog.profTimed("produce.write.plan") {
        // `staged` is an eagerly checkpointed LogicalRDD: re-wrapping its
        // RDD in the write session triggers no job and no recompute, and
        // the id assignment stays pinned to the checkpointed blocks.
        val rows = Shims.asBatchDataFrame(ws, staged)
          .repartition(n, col("__p"))
          .sortWithinPartitions(col("__p"), col("__ord"))
          .select(col("__p"),
            serializer.serialize(col("metadata")).cast(StringType),
            col("data").cast(BinaryType))
          .queryExecution.toRdd
        val job = Job.getInstance(Shims.newHadoopConf(ws))
        val factory = new ParquetFileFormat()
          .prepareWrite(ws, job, Map.empty, Producer.ChunkSchema)
        (rows, factory, Producer.broadcastConf(ws, job.getConfiguration))
      }
      val chunks = described(s"graft produce ${config.name}: write") {
        Catalog.profTimed("produce.write.job") {
          val dir = dest.toString
          val max = chunkMaxRecords
          rows.mapPartitions(it =>
            Producer.writeChunks(it, dir, firstIds, max, factory, conf))
            .collect().toSeq
        }
      }
      Producer.checkTiling(config.name, chunks, firstIds, counts)
      Producer.afterWrite(dest)
      chunks
    }

  private def produceLocked(df: DataFrame,
                            preCommit: Option[ProduceResult => Unit]): ProduceResult = {
    // refuse to append while a live compaction holds the topic — a produce
    // racing the swap window would land in the moved-aside log (data loss)
    catalog.failIfCompacting(config.name)
    // crash hygiene: a previous produce that died between its parquet write
    // and its id commit left files above the watermark — delete them before
    // this produce re-assigns those ids (see Catalog.purgeUncommitted)
    catalog.purgeUncommitted(config.name)
    val (staged, counts) = stageAndCount(df)
    val base = catalog.nextIds(config.name)
    val firstIds: Map[Int, Long] =
      counts.map { case (p, _) => p -> base.getOrElse(p, 0L) }
    val ranges: ProduceResult = counts.map { case (p, c) => p -> (firstIds(p), c) }

    // intent write for the exactly-once surfaces: ranges are fixed, nothing
    // is committed yet — a crash from here on is decidable against the
    // watermark (Catalog.reconcileProduceState)
    preCommit.foreach(_(ranges))

    if (counts.nonEmpty) {
      // private staging even under the lock: only the reported chunks ever
      // reach the log (vacuum's staging reaper cannot take this dir while
      // it is live — vacuum refuses under a held produce lock)
      val staging = catalog.heldStagingDir(config.name)
      try {
        val chunks = writeEvents(staged, firstIds, counts, staging)

        // The write job above may have run for minutes — re-check the
        // compact lock before committing, so a compaction that started
        // mid-produce fails this commit loudly instead of advancing
        // watermarks under a swapped log.
        catalog.failIfCompacting(config.name)
        catalog.moveChunks(config.name, staging, chunks)

        // Manifest BEFORE the id-watermark commit: register this produce's
        // new chunk files with their reported ranges, so trigger planning
        // is O(new files), never a full directory re-list. The manifest
        // write is the COMMIT POINT: a crash between the two writes leaves
        // the manifest watermark ahead of _ids.json, and the next
        // write-path entry heals the id watermark forward to it
        // (reconcileProduceState) so the committed ids are never re-issued.
        // A crash between the moves and the manifest leaves files above the
        // watermark, which purgeUncommitted deletes at the next produce.
        val advanced = base ++ counts.map { case (p, c) => p -> (firstIds(p) + c) }
        catalog.updateManifest(config.name,
          counts.map { case (p, _) => p -> advanced(p) }, produced = chunks)
        catalog.writeNextIds(config.name, advanced)
      } finally catalog.deleteStaging(staging)
    }
    // (the checkpointed blocks are released by the ContextCleaner once this
    // frame goes out of scope — no explicit unpersist hook exists for
    // localCheckpoint, and batches are bounded anyway)
    ranges
  }

  // -- buffered push/flush (reference S1/S2 parity surface) -----------------

  /** A pushed event whose id resolves at the next flush (the reference's
    * `Future<EventID>`, `MofkaProducer.cpp:54-67`). */
  final class PendingEvent private[Producer] (
      private[Producer] val partition: Int,
      private[Producer] val seqInPartition: Long) {
    private[Producer] var assigned: Option[Long] = None
    def isCompleted: Boolean = assigned.isDefined
    /** The assigned EventID; throws if flush() has not run yet. */
    def eventId: Long = assigned.getOrElse(
      throw new IllegalStateException("event id not assigned yet — call flush()"))
  }

  private val buffer = ArrayBuffer.empty[(String, Array[Byte], Int, PendingEvent)]

  private var rrCounter = 0L
  private val perPartitionSeq = scala.collection.mutable.Map.empty[Int, Long]

  /** S1 `push` — buffers locally; partition chosen eagerly client-side
    * (explicit request honored mod n, else round-robin / metadata hash). */
  def push(metadata: String, data: Array[Byte] = null,
           partition: Option[Int] = None): PendingEvent = synchronized {
    val p = partition match {
      case Some(req) => math.floorMod(req, n)
      case None => selector match {
        case mh: PartitionSelector.MetadataHash =>
          // same partition as produce()'s distributed assign — co-location
          // holds across both API surfaces
          mh.partitionFor(metadata, n)
        case fm: PartitionSelector.FieldMod =>
          // same catalyst extraction+cast as produce()'s distributed path;
          // missing/malformed key → the SAME round-robin fallback produce()
          // applies to null assignments
          fm.keyFor(metadata, n).getOrElse {
            val p = (rrCounter % n).toInt; rrCounter += 1; p
          }
        case _ =>
          val p = (rrCounter % n).toInt; rrCounter += 1; p
      }
    }
    val seq = perPartitionSeq.getOrElse(p, 0L)
    perPartitionSeq(p) = seq + 1
    val pending = new PendingEvent(p, seq)
    buffer += ((metadata, data, p, pending))
    // S3 micro-batching: a fixed batch size auto-flushes a full buffer (the
    // reference's ActiveProducerBatchQueue fixed mode); None = adaptive —
    // everything goes out on the next explicit flush(), like BatchSize::
    // Adaptive funneling into whatever batch is open.
    batchSize.foreach { n => if (buffer.size >= n) flush() }
    pending
  }

  /** S2 `flush` — drains the buffer as one produce() batch and resolves all
    * pending EventIDs. */
  def flush(): Unit = synchronized {
    if (buffer.isEmpty) return
    val rows = buffer.toSeq.map { case (md, data, p, _) => (md, data, p) }
    import spark.implicits._
    val df = rows.toDF("metadata", "data", "partition")
    val ranges = produce(df)
    buffer.foreach { case (_, _, p, pending) =>
      pending.assigned = Some(ranges(p)._1 + pending.seqInPartition)
    }
    buffer.clear()
    perPartitionSeq.clear()
  }

}

object Producer {
  /**
   * One AQE-free child session per engine session, for the produce WRITE
   * query only (see writeEvents). `newSession()` shares the SparkContext,
   * cached blocks and extensions; only the SQL conf is isolated — adaptive
   * execution off so the bounded write query plans and submits exactly once.
   * Cached weakly per parent session: the session-state build is paid once
   * per engine session, not once per produce, and entries die with their
   * parent. Thread-safe: concurrent produces run concurrent queries on the
   * shared child, which Spark sessions support by design.
   *
   * Every other SQL conf follows the parent: the chunk writer takes its
   * Parquet settings (codec, timestamp and legacy-format flags) from this
   * session, so each write re-syncs the parent's current runtime confs onto
   * the child first — a `spark.sql.parquet.compression.codec` set after
   * the first produce applies to the next chunk.
   */
  private val writeSessions =
    new java.util.WeakHashMap[SparkSession, SparkSession]()
  private val PinnedWriteConfs = Map("spark.sql.adaptive.enabled" -> "false")
  private[engine] def writeSession(parent: SparkSession): SparkSession = {
    val ws = writeSessions.synchronized {
      var ws = writeSessions.get(parent)
      if (ws == null) {
        ws = parent.newSession()
        PinnedWriteConfs.foreach { case (k, v) => ws.conf.set(k, v) }
        writeSessions.put(parent, ws)
      }
      ws
    }
    Shims.syncSqlConf(parent, ws, keep = PinnedWriteConfs.keySet)
    ws
  }

  /** Per write session, the last write's job conf and its broadcast, reused
    * while the next write's conf is equal: it changes only with a session
    * or Hadoop setting, and broadcasting it costs more than comparing it.
    * A superseded broadcast is left to the ContextCleaner, since a
    * concurrent write may still be reading it. */
  private val confBroadcasts = new java.util.WeakHashMap[SparkSession,
    (Map[String, String], HadoopConfBroadcast)]()
  private def broadcastConf(ws: SparkSession, conf: Configuration): HadoopConfBroadcast = {
    import scala.jdk.CollectionConverters._
    val content = conf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
    confBroadcasts.synchronized {
      Option(confBroadcasts.get(ws)).collect { case (`content`, bc) => bc }.getOrElse {
        val bc = Shims.broadcastHadoopConf(ws.sparkContext, conf)
        confBroadcasts.put(ws, content -> bc)
        bc
      }
    }
  }

  /** The chunk files' Parquet schema (the `partition` column lives in the
    * directory name, as Hive-style partitioned writes lay it out; every
    * column nullable, as Spark's file writers store them). */
  private[engine] val ChunkSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("metadata", StringType),
    StructField("data", BinaryType)))

  /** Test seam: called in the producing thread after a produce's write
    * job, before its commit, with the write's staging dir. */
  @volatile private[engine] var afterWrite: Path => Unit = _ => ()

  /** One write task's body: `rows` are `(partition, metadata, data)`,
    * sorted by (partition, push order). Numbers each partition's rows from
    * `firstIds`, starts a new file per partition and every `maxRecords`
    * rows, and reports every file it closed. File names carry a fresh tag
    * per task attempt, so two attempts of one task never share a file. */
  private[engine] def writeChunks(rows: Iterator[InternalRow], dir: String,
                                  firstIds: Map[Int, Long], maxRecords: Long,
                                  factory: OutputWriterFactory,
                                  conf: HadoopConfBroadcast): Iterator[ChunkReport] = {
    val tc = TaskContext.get()
    val ctx = new TaskAttemptContextImpl(new Configuration(conf.value),
      new TaskAttemptID("graft", 0, TaskType.MAP, tc.partitionId(), tc.attemptNumber()))
    val prefix = f"part-${tc.partitionId()}%05d-${java.util.UUID.randomUUID()}"
    val ext = factory.getFileExtension(ctx)
    val out = new GenericInternalRow(3)
    val reports = ArrayBuffer.empty[ChunkReport]
    var writer: OutputWriter = null
    var p = -1
    var file = ""
    var fileNo = 0
    var first = 0L
    var next = 0L
    def close(): Unit = if (writer != null) {
      writer.close()
      writer = null
      reports += ChunkReport(p, file, first, next - 1, next - first)
    }
    try {
      rows.foreach { r =>
        val rp = r.getInt(0)
        if (rp != p) { close(); p = rp; next = firstIds(rp) }
        if (writer != null && next - first == maxRecords) close()
        if (writer == null) {
          first = next
          file = f"$prefix.c$fileNo%03d$ext"
          fileNo += 1
          writer = factory.newInstance(s"$dir/partition=$p/$file", ChunkSchema, ctx)
        }
        out.setLong(0, next)
        out.update(1, if (r.isNullAt(1)) null else r.getUTF8String(1))
        out.update(2, if (r.isNullAt(2)) null else r.getBinary(2))
        writer.write(out)
        next += 1
      }
      close()
    } catch {
      case t: Throwable =>
        if (writer != null)
          try writer.close() catch { case scala.util.control.NonFatal(_) => () }
        throw t
    }
    reports.iterator
  }

  /** The reports of one write must tile each written partition's reserved
    * range `[firstIds(p), firstIds(p) + counts(p))` exactly — a gap or an
    * overlap would break the dense-id contract, so it refuses the commit. */
  private[engine] def checkTiling(topic: String, chunks: Seq[ChunkReport],
                                  firstIds: Map[Int, Long],
                                  counts: Map[Int, Long]): Unit = {
    val byPartition = chunks.groupBy(_.partition)
    val ok = byPartition.keySet == counts.keySet && counts.forall { case (p, c) =>
      val end = byPartition(p).sortBy(_.first).foldLeft(firstIds(p)) { (at, r) =>
        if (r.first == at && r.rows == r.last - r.first + 1) r.last + 1 else -1L
      }
      end == firstIds(p) + c
    }
    if (!ok) throw new IllegalStateException(
      s"topic '$topic': produce write reported chunks $chunks that do not " +
      s"tile the reserved ranges (first ids $firstIds, counts $counts) — " +
      "nothing was committed; retry the produce")
  }

  /** Widest topic for which the fused observed-metrics count pass is used:
    * the fused path evaluates one conditional count per topic partition per
    * row DURING the checkpoint, which beats a whole second job/pass over
    * the staged blocks for any realistic partition count; far past this
    * width the per-row branch chain would dominate and the map-side-
    * combined second pass wins. */
  private[engine] val FusedCountMaxPartitions = 256
}
