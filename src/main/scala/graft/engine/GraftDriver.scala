package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, element_at, lit, struct, to_json, typedLit}

/**
 * The engine's driver/DDL facade — the Spark-native counterpart of
 * `MofkaDriver` (`/root/reference/include/mofka/MofkaDriver.hpp:38`,
 * `/root/reference/src/MofkaDriver.cpp:151-508`): topic DDL plus handles
 * for producing/consuming. Where the reference provisions RPC providers per
 * partition, this engine provisions directories of a Parquet log — placement
 * and transport are Spark's problem.
 */
final class GraftDriver(val spark: SparkSession, val warehouse: String) {

  val catalog = new Catalog(spark, warehouse)

  /** C1 `createTopic` — with the plugin triple persisted as table metadata. */
  def createTopic(
      name: String,
      partitions: Int = 1,
      validator: Validator = Validator.Default,
      selector: PartitionSelector = PartitionSelector.RoundRobin,
      serializer: Serializer = Serializer.Json): Unit =
    catalog.createTopic(TopicConfig(name, partitions,
      validator.descriptor, selector.descriptor,
      serializer.descriptor, completed = false))

  /** C2 `openTopic` — throws "not found" for missing topics. */
  def openTopic(name: String): TopicHandle =
    new TopicHandle(spark, catalog, name)

  /** Shallow clone: a new topic referencing `src`'s committed files —
    * O(metadata), zero data copied (see [[Catalog.cloneTopic]]). */
  def cloneTopic(src: String, dst: String): TopicHandle = {
    catalog.cloneTopic(src, dst)
    openTopic(dst)
  }

  /** C3 `listTopics`. */
  def listTopics(): Seq[String] = catalog.listTopics()

  /** C4 `topicExists`. */
  def topicExists(name: String): Boolean = catalog.topicExists(name)

  /** C5 `addPartition` — returns the new partition count. */
  def addPartition(name: String): Int = catalog.addPartition(name)

  /** Drop a topic (SQL-catalog surface; refuses under live produce/compact
    * locks — see [[Catalog.dropTopic]]). */
  def dropTopic(name: String): Unit = catalog.dropTopic(name)

  /**
   * Multi-topic subscribe: the union of several topic logs as one
   * DataFrame, tagged with a `topic` column (SURVEY §2.7 — the reference
   * consumer targets one topic per handle, `MofkaTopicHandle.cpp:40-73`;
   * cross-topic analytics is a union of sources). Column-pruning and
   * partition/id pushdowns still apply per branch: a union is a plan node,
   * not a materialization.
   */
  def events(topics: Seq[String]): DataFrame = {
    require(topics.nonEmpty, "events() needs at least one topic")
    topics.map { name =>
      openTopic(name).events()
        .withColumn("topic", org.apache.spark.sql.functions.lit(name))
    }.reduce(_.unionByName(_))
  }
}

/**
 * A named topic (reference `MofkaTopicHandle`,
 * `include/mofka/MofkaTopicHandle.hpp:27-103`).
 */
final class TopicHandle(spark: SparkSession,
                        private[graft] val catalog: Catalog,
                        val name: String) {

  /** Re-read on demand so addPartition/markAsComplete are visible. */
  def config: TopicConfig = catalog.openTopic(name)

  // fail fast on open, like the reference
  config

  /** @param batchSize fixed client-side batch: a full buffer auto-flushes
    *                   (S3); None = adaptive (flush on demand), the default
    *                   like the reference's `BatchSize::Adaptive`.
    * @param chunkMaxRecords log-file rotation bound — the reference's
    *                   1M-event chunk cap (`DefaultPartitionManager.hpp:29`).
    * @param ordering "strict" | "loose" (API parity; modes behave
    *                   identically, as in the reference — see [[Producer]]). */
  def producer(batchSize: Option[Int] = None,
               chunkMaxRecords: Long = 1000000L,
               ordering: String = "strict"): Producer =
    new Producer(spark, catalog, config, chunkMaxRecords, batchSize, ordering)

  /** @param batchSize bound on events fetched per pull-refresh (the
    *                  reference consumer's batch size; None = the bounded
    *                  [[Consumer.DefaultBatchSize]] — feeds are always
    *                  batched, like the reference's event stores). */
  def consumer(
      consumerName: String,
      selector: Option[DataSelector] = None,
      targets: Seq[Int] = Nil,
      batchSize: Option[Int] = None): Consumer =
    new Consumer(spark, catalog, config, consumerName, targets, selector, batchSize)

  /** Dead-letter produce — the `errors.tolerance=all` alternative to
    * [[producer]]().produce()'s batch-abort contract (which mirrors the
    * reference's throw-on-invalid, `MofkaProducer.cpp:69`): rows the
    * topic's validator REJECTS are routed to a dead-letter topic instead
    * of failing the whole batch, so one poison message cannot stall a
    * pipeline. The DLQ topic (`<name>.dlq` by default) is auto-created
    * with the same partition count and the default (accept-all)
    * validator; each dead event's metadata wraps the rejected document
    * verbatim — `{"reason":"validator","original":<raw metadata string>}`
    * — and carries the original payload, so rejects can be inspected,
    * fixed, and replayed. A validator verdict of NULL (malformed JSON)
    * counts as rejected, never silently valid.
    *
    * The input feeds two complementary filters, so it is checkpointed
    * once up front: a non-deterministic source cannot send a row to both
    * topics (or neither). Returns (main produce result, dlq produce
    * result) as per-partition (firstId, count) maps.
    */
  def produceWithDlq(df: DataFrame, dlqName: String = "")
      : (Map[Int, (Long, Long)], Map[Int, (Long, Long)]) = {
    val dlq = if (dlqName.nonEmpty) dlqName else s"$name.dlq"
    val cfg = config
    val ok = coalesce(
      Validator.fromDescriptor(cfg.validator).predicate(col("metadata")),
      lit(false))
    if (!catalog.topicExists(dlq))
      catalog.createTopic(TopicConfig(dlq, cfg.partitions,
        Validator.Default.descriptor, PartitionSelector.RoundRobin.descriptor,
        Serializer.Json.descriptor, completed = false))
    val staged = (if (df.columns.contains("data")) df
      else df.withColumn("data",
        lit(null).cast(org.apache.spark.sql.types.BinaryType)))
      .transform(graft.Checkpoints.local(_, eager = true))
    val mainRes = producer().produce(staged.filter(ok))
    val dlqRes = new TopicHandle(spark, catalog, dlq).producer().produce(
      staged.filter(!ok).select(
        to_json(struct(lit("validator").as("reason"),
          col("metadata").as("original"))).as("metadata"),
        col("data")))
    (mainRes, dlqRes)
  }

  /** Balanced consumer group: `size` members named `<group>-<i>`, member i
    * targeting partitions p ≡ i (mod size) — Kafka's static round-robin
    * assignment, minus dynamic rebalancing (membership here is explicit;
    * re-create the group with a new size to rebalance — cursors are
    * per-member-name, so resizing restarts members at their own cursors).
    * Every partition belongs to exactly one member, so each event is
    * delivered to exactly one member; lag stays per-member via
    * [[lag]](`<group>-<i>`). `size` must not exceed the partition count:
    * a surplus member would own no partitions, and empty `targets` means
    * ALL partitions in the consumer API — refuse loudly rather than
    * double-deliver. */
  def consumerGroup(group: String, size: Int,
                    selector: Option[DataSelector] = None,
                    batchSize: Option[Int] = None): Seq[Consumer] = {
    require(size > 0, s"group size must be positive: $size")
    require(size <= config.partitions,
      s"group size $size exceeds the topic's ${config.partitions} partitions " +
      "— a member would own nothing (add partitions or shrink the group)")
    (0 until size).map { i =>
      consumer(s"$group-$i", selector = selector,
        targets = (0 until config.partitions).filter(_ % size == i),
        batchSize = batchSize)
    }
  }

  /** Resize a balanced consumer group, migrating each partition's
    * committed cursor from its old owner to its new owner — Kafka's
    * rebalance offset continuity: consumption progress belongs to the
    * (group, partition), not to the member that happened to hold it, so a
    * partition that changes hands resumes where the OLD owner stopped
    * instead of re-reading (or skipping) its history. A cursor already
    * ahead under the new owner is kept (max wins — cursors are
    * at-least-once floors, never regressed). Members are static like
    * [[consumerGroup]]'s; this is the explicit-membership analog of a
    * rebalance, not dynamic membership. Returns the new group's members.
    */
  def resizeConsumerGroup(group: String, oldSize: Int, newSize: Int,
                          selector: Option[DataSelector] = None,
                          batchSize: Option[Int] = None): Seq[Consumer] = {
    require(oldSize > 0, s"old group size must be positive: $oldSize")
    // one cursor READ per involved member and one WRITE per new owner —
    // not one read-modify-write per partition (a 1024-partition rebalance
    // on an object store would otherwise be thousands of round trips)
    val members = ((0 until oldSize) ++ (0 until newSize))
      .map(i => s"$group-$i").distinct
    val cursors = members.map(m => m -> catalog.cursor(name, m)).toMap
    (0 until config.partitions).flatMap { p =>
      val oldOwner = s"$group-${p % oldSize}"
      val newOwner = s"$group-${p % newSize}"
      if (oldOwner == newOwner) None
      else {
        val cur = cursors(oldOwner).getOrElse(p, 0L)
        if (cur > cursors(newOwner).getOrElse(p, 0L)) Some(newOwner -> (p, cur - 1))
        else None
      }
    }.groupBy(_._1).foreach { case (m, moves) =>
      catalog.acknowledgeFloors(name, m, moves.map(_._2).toMap)
    }
    consumerGroup(group, newSize, selector, batchSize)
  }

  /** The full event log as a DataFrame — the engine-native analytics
    * surface (metadata/data split = Parquet column pruning). Transaction-
    * wise this is `read_uncommitted` (every event below the watermark,
    * like the reference's log walk) — see
    * [[events(isolation:String)* events(isolation)]] for read_committed. */
  def events(): DataFrame =
    new Consumer(spark, catalog, config, s"__scan_${name}", Nil, None)
      .eventsFrom(Map.empty)

  /**
   * Isolation-aware read (Kafka `isolation.level` analog):
   * `"read_uncommitted"` is [[events()*]] verbatim; `"read_committed"`
   * additionally excludes every id range recorded by a transaction that
   * has not committed (open or aborted) — so a transaction's events appear
   * atomically at commit and an aborted transaction's events never appear.
   * The exclusion list is metadata-sized (O(live transactions), bounded
   * by construction: abandoned open transactions auto-abort past
   * `spark.graft.txn.timeoutMs`, and [[Catalog.maintainTopic]] purges
   * aged aborted debris — [[purgeAborted]] reclaims eagerly on demand)
   * and compiles to a pushdown-eligible
   * filter over (partition, event_id) — no join, no extra pass.
   */
  def events(isolation: String): DataFrame = {
    val base = events()
    isolation match {
      case "read_uncommitted" => base
      case "read_committed" =>
        val excl = catalog.uncommittedTxnRanges(name)
        if (excl.isEmpty) base
        else base.filter(!excl.map(r =>
          col("partition") === r.partition &&
            col("event_id") >= r.first &&
            col("event_id") < r.first + r.count).reduce(_ || _))
      case other => throw new IllegalArgumentException(
        s"unknown isolation level '$other' " +
          "(expected read_committed | read_uncommitted)")
    }
  }

  /** Open a NEW transaction and return its producer — Kafka
    * `initTransactions` + `beginTransaction` in one step (transaction ids
    * are single-use here: committed/aborted ids are terminal). */
  def beginTransaction(txnId: String): TransactionalProducer = {
    catalog.beginTxn(name, txnId)
    transaction(txnId)
  }

  /** Resume an existing open transaction (e.g. after a driver restart). */
  def transaction(txnId: String): TransactionalProducer =
    new TransactionalProducer(catalog, name, txnId, producer())

  /** Idempotent producer handle — Kafka `enable.idempotence` analog; see
    * [[IdempotentProducer]] for the retry/fencing contract. */
  def idempotentProducer(producerId: String, epoch: Long = 0L): IdempotentProducer =
    new IdempotentProducer(catalog, name, producerId, epoch, producer())

  /**
   * Transaction admin listing (the `kafka-transactions.sh list/describe`
   * analog): one row per LOCAL transaction record — id, state
   * (`open`/`committed`/`aborted`), total recorded events, recorded range
   * count, staged-delete row count, cursor-floor entry count, and the
   * lease idle time (`idle_ms`, the age [[Catalog.maintainTopic]]'s
   * expiry judges against `spark.graft.txn.timeoutMs`). Metadata-only —
   * O(transaction records), one directory listing; the operator's view
   * for answering "what is wedging my read_committed stream" without
   * touching the log.
   */
  def transactions(): DataFrame = {
    import spark.implicits._
    transactionRows()
      .toDF("txn_id", "state", "n_events", "n_ranges",
        "n_staged_deletes", "n_offset_entries", "idle_ms")
  }

  /** [[transactions]]'s driver-side row form — shared with the SQL
    * procedure surface (`CALL cat.system.transactions('t')`), which
    * needs the values without a DataFrame round trip. */
  private[graft] def transactionRows()
      : Seq[(String, String, Long, Long, Long, Long, Long)] = {
    val now = System.currentTimeMillis()
    catalog.listTxnsWithMtime(name).toSeq.sortBy(_._1)
      .map { case (id, (st, mtime)) =>
        (id, st.state, st.ranges.map(_.count).sum, st.ranges.size.toLong,
          st.deletes.map(_.count).sum, st.offsets.size.toLong,
          math.max(0L, now - mtime))
      }
  }

  /** [[transactions]]'s cross-topic counterpart: one row per REMOTE
    * share — rows produced into THIS topic under another topic's
    * transaction ([[TransactionalProducer.produceTo]]) — with the
    * coordinator's resolved state (`open`/`committed`/`aborted`;
    * a missing coordinator record reads `aborted`). A
    * `read_committed` wedge on this topic that [[transactions]] cannot
    * explain is an open row here: decide (or let time out) the
    * transaction on `coord_topic`. Metadata-only, O(share records). */
  def remoteShares(): DataFrame = {
    import spark.implicits._
    remoteShareRows()
      .toDF("coord_topic", "txn_id", "coord_state", "n_events", "n_ranges")
  }

  /**
   * Concurrent-produce admin listing (the produce-side mirror of
   * [[transactions]]): one row per LIVE reservation intent — id, total
   * reserved events, reserved range count, staged files and bytes in its
   * private staging dir, and the lease idle time (`idle_ms`, the age the
   * janitor judges against `spark.graft.produce.intentTimeoutMs`).
   * Metadata-only — one `_intents/` listing plus one content summary per
   * intent. The operator's SQL-free answer to "which producer is blocking
   * my exclusive statement or queued commit": a draining refusal or a
   * blocked-commit timeout names intent ids; this view shows whether each
   * is a live slow write (idle small, bytes growing) or a crashed
   * producer waiting out its lease.
   */
  def produceIntents(): DataFrame = {
    import spark.implicits._
    produceIntentRows()
      .toDF("intent_id", "n_events", "n_ranges", "staged_files",
        "staged_bytes", "idle_ms")
  }

  /** [[produceIntents]]'s driver-side row form — shared with the SQL
    * procedure surface (`CALL cat.system.produce_intents('t')`). */
  private[graft] def produceIntentRows()
      : Seq[(String, Long, Long, Long, Long, Long)] =
    catalog.produceIntentRows(name)

  /**
   * Admin listing of this topic's held lock files (the `locks` analog of
   * [[transactions]] / [[produceIntents]]): one row per existing
   * `_produce.lock` / `_compact.lock` — the owner JSON the acquirer wrote
   * (process name + acquire time), the lock's idle age in ms, the
   * heartbeat mode on this store (in-place `setTimes` vs write-based
   * re-create), and whether a contender's reclaim claim is pending.
   * Control-plane sized (a stat and a small read per lock, plus one
   * store-clock probe write). The operator's answer to "what exactly is my exclusive
   * statement / produce blocked on, and is its holder alive": an age well
   * under the staleness horizon means a live heartbeating holder; one
   * past it is a crash leftover the next contender reclaims.
   */
  def locks(): DataFrame = {
    import spark.implicits._
    lockRows().toDF("lock", "owner", "age_ms", "heartbeat", "reclaim_pending")
  }

  /** [[locks]]'s driver-side row form — shared with the SQL procedure
    * surface (`CALL cat.system.locks('t')`). */
  private[graft] def lockRows(): Seq[(String, String, Long, String, Boolean)] =
    catalog.lockRows(name)

  /** [[remoteShares]]'s driver-side row form — shared with the SQL
    * procedure surface (`CALL cat.system.remote_shares('t')`). */
  private[graft] def remoteShareRows()
      : Seq[(String, String, String, Long, Long)] =
    catalog.listRemoteTxns(name).values.toSeq
      .map(r => (r.coordTopic, r.txnId,
        catalog.coordState(r).getOrElse("aborted"),
        r.ranges.map(_.count).sum, r.ranges.size.toLong))
      .sortBy(t => (t._1, t._2))

  /**
   * Physically reclaim aborted transactions' events (they stay in the log
   * filtered-out otherwise, like Kafka's until log cleaning): one
   * [[Catalog.purgeTopic]] rewrite dropping every row inside an aborted
   * range, then the aborted transaction records themselves are removed
   * (keeping the read_committed exclusion list bounded). Remote shares
   * ([[TransactionalProducer.produceTo]]) whose coordinator aborted — or
   * whose coordinator record is gone — are reclaimed the same way.
   * Committed and open transactions are untouched. On a TIERED topic
   * (rewrites refuse there) the dead ranges are converted to deletion
   * vectors instead and the records removed — rows invisible everywhere
   * immediately, bytes reclaimed at the next tier restore/rewrite.
   * Returns the number of aborted transactions (local records + dead
   * remote shares) reclaimed.
   */
  def purgeAborted(chunkMaxRecords: Long = 1000000L): Int =
    catalog.purgeAbortedTxns(name, chunkMaxRecords)

  /** Pin the topic's current id watermark (partition → next id) — a
    * SNAPSHOT handle for [[events(asOf:Map[Int,Long])*]]. Ids are dense and
    * append-only, so the pinned map names an immutable prefix of the log:
    * the reproducible-dataset primitive (training runs re-read exactly the
    * corpus they saw, however much is produced afterwards). */
  def snapshot(): Map[Int, Long] = catalog.nextIds(name)

  /** The topic's retained commit history as a DataFrame (the DESCRIBE
    * HISTORY analog): one row per retained manifest commit — `version`
    * (the `VERSION AS OF` axis), `kind` (snapshot/delta), `commit_time`,
    * the full `watermarks` map visible at that commit, and `n_events`
    * (its sum — the id frontier, which is the exact corpus size until a
    * compliance delete punches gaps; count the pinned read for
    * gap-exact sizes). Oldest first.
    * Retention = the manifest log's own bound (see
    * [[Catalog.versionHistory]]). */
  def history(): DataFrame = {
    import spark.implicits._
    catalog.versionHistory(name)
      .map(v => (v.version, v.kind,
        new java.sql.Timestamp(v.commitTimeMs), v.watermarks,
        v.watermarks.valuesIterator.sum))
      .toDF("version", "kind", "commit_time", "watermarks", "n_events")
  }

  /** Time-travel read by retained commit version — sugar for
    * [[events(asOf:Map[Int,Long])*]] over [[Catalog.watermarkAsOf]]; the
    * SQL `VERSION AS OF` path resolves through the same method. */
  def events(version: Long): DataFrame =
    events(catalog.watermarkAsOf(name, version))

  /** Version-diff read: exactly the events produced AFTER retained commit
    * `fromVersion` and visible AT `toVersion` — the
    * [[events(from:Map[Int,Long],to:Map[Int,Long])*]] incremental export,
    * addressed by commit instead of watermark map. The format path spells
    * it `option("startingVersion", v1).option("endingVersion", v2)`. */
  def events(fromVersion: Long, toVersion: Long): DataFrame =
    events(catalog.watermarkAsOf(name, fromVersion),
      catalog.watermarkAsOf(name, toVersion))

  /** The RESTORE analog for an append-only log: purge every event
    * produced AFTER retained commit `version`, leaving exactly the corpus
    * that commit pinned (a bad-produce rollback). Honest to the log
    * semantics — the tail is COMPLIANCE-DELETED (same lock/rewrite/
    * manifest path as [[deleteWhere]]), while the id watermark stays where
    * it was, so the restore never re-issues ids: later produces append
    * after an id gap, and pre-restore consumer cursors stay valid. The
    * restore itself commits a new version (versions only move forward —
    * the history keeps the evidence, like Delta's RESTORE). */
  def restoreTo(version: Long, chunkMaxRecords: Long = 1000000L): Unit = {
    val wm = catalog.watermarkAsOf(name, version)
    deleteWhere(
      col("event_id") >= coalesce(
        element_at(typedLit(wm), col("partition")), lit(0L)),
      chunkMaxRecords)
  }

  /** Time-travel read: only events below the pinned watermark — the exact
    * dataset visible when [[snapshot]] was taken. A pure per-row id filter
    * on the scan (rides the same event_id row-group pruning as cursor
    * reads); partitions created after the pin are excluded entirely. */
  def events(asOf: Map[Int, Long]): DataFrame = {
    val bound = typedLit(asOf)
    events().filter(
      col("event_id") < coalesce(element_at(bound, col("partition")), lit(0L)))
  }

  /** Incremental export: exactly the events produced AFTER the `from` pin
    * and visible at the `to` pin — the "what's new since the last training
    * snapshot" read. Both bounds name immutable id prefixes (ids are dense
    * and append-only), so the diff is reproducible forever; partitions
    * absent from `from` (created between the pins) are included whole. */
  def events(from: Map[Int, Long], to: Map[Int, Long]): DataFrame = {
    val lo = typedLit(from)
    events(to).filter(
      col("event_id") >= coalesce(element_at(lo, col("partition")), lit(0L)))
  }

  /**
   * Change data feed between two retained commits — the Delta
   * `table_changes` analog over the log's change mechanisms. Each output
   * row is an event row plus `_change_type` ('insert' | 'delete'),
   * `_commit_version` and `_commit_timestamp`:
   *
   *  - `insert`: events produced after `fromVersion` and visible at
   *    `toVersion`, read RAW (a row inserted in the span is an insert even
   *    if vector-deleted later). `_commit_version` is the first in-span
   *    commit whose watermark covers the row's id — exact, because ids
   *    are dense and watermarks monotone.
   *  - `delete`: full preimages of rows vector-deleted in the span
   *    (vectored rows stay physically present until a rewrite folds
   *    them). Every vectored delete commits its own manifest version with
   *    the seq embedded in the vector root's name
   *    ([[Catalog.deleteWhereVectored]]), so attribution is exact;
   *    fold-rewritten roots fall back to first-commit-at-or-after their
   *    timestamp.
   *
   * Both sides are pure scans — no joins, no shuffles: the insert side is
   * the version-diff id window, the delete side plans only the chunk
   * files each root's footer id-bounds can touch, with the reader's
   * vector filter INVERTED ([[graft.streaming.GraftDeleteMode]]).
   *
   * Honest limits, inherited from the underlying mechanisms: physically
   * purged rows (deleteWhere / restoreTo / expire) do NOT replay — their
   * preimages are destroyed, and a compliance purge that re-surfaced what
   * it purged would defeat itself. A rewrite that folds vectors consumes
   * the delete preimages with them: read the feed before maintenance
   * folds it (Delta's CDF-before-VACUUM retention, in this engine's
   * terms).
   */
  def changes(fromVersion: Long, toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.when
    require(fromVersion <= toVersion,
      s"changes($fromVersion, $toVersion): fromVersion must be <= toVersion")
    val history = catalog.versionHistory(name)
    def entryOf(v: Long): TopicVersion =
      history.find(_.version == v).getOrElse(throw new IllegalArgumentException(
        s"topic '$name' has no retained version $v (retained: " +
        (if (history.isEmpty) "none"
         else s"${history.head.version}..${history.last.version}") + ")"))
    entryOf(fromVersion): Unit
    entryOf(toVersion): Unit
    val span = history.filter(v => v.version > fromVersion && v.version <= toVersion)
    def base = spark.read.format("graft")
      .option("warehouse", catalog.warehouse).option("topic", name)

    // insert attribution: first in-span commit covering the id — a
    // coalesce over at most ManifestSnapshotEvery+1 literal watermarks
    val verCol =
      if (span.isEmpty) lit(null).cast("long")
      else coalesce(span.map { v =>
        when(col("event_id") <
          coalesce(element_at(typedLit(v.watermarks), col("partition")), lit(0L)),
          lit(v.version))
      }: _*)
    val tsByVer = typedLit(span.map(v =>
      v.version -> new java.sql.Timestamp(v.commitTimeMs)).toMap)
    val inserts = base
      .option("applyDeletionVectors", "false")
      .option("startingVersion", fromVersion.toString)
      .option("endingVersion", toVersion.toString)
      .load()
      .withColumn("_change_type", lit("insert"))
      .withColumn("_commit_version", verCol)
      .withColumn("_commit_timestamp",
        if (span.isEmpty) lit(null).cast("timestamp")
        else element_at(tsByVer, col("_commit_version")))

    // delete preimages: one bounded scan per in-span delete COMMIT (plain
    // roots carry one; fold roots carry each folded commit's source,
    // narrowed by its (_v, _ms) stamp), each with its exact (or
    // timestamp-attributed) commit version — ONE attribution rule, shared
    // with the scan-level feed
    val deletes = graft.streaming.GraftCdf
      .attributedSources(catalog, name, history, fromVersion, toVersion)
      .map { case (root, src, v, multi) =>
        val scan = base.option("cdfDeleteRoot", root)
        val narrowed =
          if (multi) scan.option("cdfDeleteSource", s"${src.version}:${src.ms}")
          else scan
        narrowed.load()
          .withColumn("_change_type", lit("delete"))
          .withColumn("_commit_version", lit(v.version))
          .withColumn("_commit_timestamp",
            lit(new java.sql.Timestamp(v.commitTimeMs)))
      }
    deletes.foldLeft(inserts)(_.unionByName(_))
  }

  /**
   * Incremental topic mirroring (the MirrorMaker / cluster-replication
   * analog): copy this topic's events into `target`, resuming from where
   * the previous mirror call stopped. Each call pins the source watermark
   * FIRST, reads exactly the events between the mirror's cursor and the
   * pin (so a produce racing the copy is never half-mirrored — it waits
   * for the next call), re-produces them into `target` in source-id order
   * with the source partition requested explicitly (honored modulo the
   * target's partition count, like any explicit produce request), and
   * only then advances the cursor. Like MirrorMaker, target ids are
   * target-assigned — dense from the target's own watermark — while
   * per-partition event ORDER is preserved; metadata and payload ride
   * verbatim.
   *
   * Crash contract: the cursor advances only after the target produce
   * commits, so a mirror that dies mid-copy re-copies that span on the
   * next call (at-least-once, like MirrorMaker); the target's
   * produce-path id linearization keeps its own log dense regardless.
   *
   * The global sort before produce makes the copy order deterministic
   * (range shuffle); the produce itself re-shuffles by target partition —
   * two bounded shuffles of only the NEW span per call.
   *
   * @return the target's per-partition (firstId, count) produce result
   */
  def mirrorTo(target: TopicHandle): Map[Int, (Long, Long)] = {
    val cName = s"__mirror_to_${target.name}"
    val from = catalog.cursor(name, cName)
    val to = catalog.nextIds(name)
    val batch = events(from, to)
      .orderBy(col("partition"), col("event_id"))
      .select(col("metadata"), col("data"), col("partition"))
    val res = target.producer().produce(batch)
    to.foreach { case (p, w) =>
      if (w > from.getOrElse(p, 0L)) catalog.acknowledge(name, cName, p, w - 1)
    }
    res
  }

  /**
   * Per-partition operational summary — the library analog of the
   * reference's `mofkactl topic` inspection surface: committed event count
   * (= the id watermark, ids are dense from 0), registered chunk-file count
   * (from the manifest; -1 when the topic has no manifest log), and the
   * completion flag. Metadata-only — reads two small catalog files, never
   * the log itself.
   */
  def describe(): DataFrame = {
    import spark.implicits._
    val cfg = config
    val next = catalog.nextIds(name)
    val counts = catalog.readManifest(name)
      .map(m => catalog.manifestFileCounts(name, m))
    (0 until cfg.partitions).map { p =>
      (p, next.getOrElse(p, 0L),
        counts.map(_.getOrElse(p, 0L)).getOrElse(-1L),
        cfg.completed)
    }.toDF("partition", "n_events", "n_files", "completed")
  }

  /** Consumer-group lag — the monitoring primitive of every log store:
    * per partition, the id watermark, the named consumer's committed
    * cursor (0 when it never acknowledged), and lag = watermark − cursor.
    * Metadata-only, like [[describe]] — two small catalog files, never the
    * log. */
  def lag(consumer: String): DataFrame = {
    import spark.implicits._
    val next = catalog.nextIds(name)
    val cur = catalog.cursor(name, consumer)
    (0 until config.partitions).map { p =>
      val n = next.getOrElse(p, 0L)
      val c = cur.getOrElse(p, 0L)
      (p, n, c, n - c)
    }.toDF("partition", "n_events", "committed", "lag")
  }

  /** Tiered storage: move committed chunk files wholly below `cutoffId`
    * to the cold tier — see [[Catalog.archiveTopicBefore]]. */
  def archiveBefore(cutoffId: Long, coldRoot: String = ""): TierReport =
    catalog.archiveTopicBefore(name, cutoffId, coldRoot)

  /** Bring every cold-tier file back into the hot log (re-enables
    * maintenance rewrites) — see [[Catalog.restoreArchive]]. */
  def restoreArchive(): Int = catalog.restoreArchive(name)

  /** The topic's cold-tier state, None when not tiered. */
  def tierState: Option[TierState] = catalog.tierState(name)

  /** D5 `markAsComplete`. */
  def markAsComplete(): Unit = catalog.markAsComplete(name)

  /** Log maintenance: rewrite accumulated small chunk files into bounded
    * ones, ids and content preserved (see [[Catalog.compactTopic]]). */
  def compact(chunkMaxRecords: Long = 1000000L): Unit =
    catalog.compactTopic(name, chunkMaxRecords)

  /** Validator evolution with a full-compatibility gate — see
    * [[Catalog.alterTopicValidator]]. */
  def alterValidator(validator: Validator, checkExisting: Boolean = true): Unit =
    catalog.alterTopicValidator(name, validator, checkExisting)

  /** Key compaction (Kafka `cleanup.policy=compact` analog): keep only the
    * latest event per (partition, key); with `dropTombstones`, keys whose
    * latest payload is empty are deleted — see [[Catalog.compactTopicByKey]]. */
  def compactByKey(key: org.apache.spark.sql.Column,
                   dropTombstones: Boolean = false,
                   chunkMaxRecords: Long = 1000000L): Unit =
    catalog.compactTopicByKey(name, key, dropTombstones, chunkMaxRecords)

  /** Retention expiry: drop events below `beforeId` in every partition —
    * see [[Catalog.expireTopic]] for the contract. */
  def expire(beforeId: Long, chunkMaxRecords: Long = 1000000L): Unit =
    catalog.expireTopic(name, beforeId, chunkMaxRecords)

  /** Compliance delete: drop every event matching `cond` (id gaps are the
    * semantic) — see [[Catalog.purgeTopic]] for the contract. */
  def deleteWhere(cond: org.apache.spark.sql.Column,
                  chunkMaxRecords: Long = 1000000L): Unit =
    catalog.purgeTopic(name, cond, chunkMaxRecords)

  /** Merge-on-read compliance delete: record matching events as a
    * deletion vector instead of rewriting the log — O(matched) written,
    * zero chunk files touched, works on tiered topics; every read surface
    * (including version-pinned time travel) drops vectored rows, and the
    * next log rewrite folds them physically. See
    * [[Catalog.deleteWhereVectored]] for the full contract.
    * @return the number of newly deleted events */
  def deleteWhereVectored(cond: org.apache.spark.sql.Column): Long =
    catalog.deleteWhereVectored(name, cond)

  /** Time-based retention: drop each partition's prefix older than
    * `cutoff` under `eventTime` — see [[Catalog.expireTopicOlderThan]]. */
  def expireOlderThan(eventTime: org.apache.spark.sql.Column,
                      cutoff: org.apache.spark.sql.Column,
                      chunkMaxRecords: Long = 1000000L): Unit =
    catalog.expireTopicOlderThan(name, eventTime, cutoff, chunkMaxRecords)

  /** Orphan-file GC: remove crashed-operation debris (uncommitted chunks,
    * swap leftovers, stale temp files) — see [[Catalog.vacuumTopic]]. */
  def vacuum(): VacuumReport = catalog.vacuumTopic(name)

  /** Build or incrementally refresh a per-chunk-file BLOOM index over a
    * metadata field — point-lookup file pruning for high-cardinality keys
    * whose values are spread hash-like across the log (where zone maps
    * degenerate to full scans). See [[BloomIndex]] for the contracts. */
  def refreshBloomIndex(index: String, jsonPath: String,
                        numBits: Int = 4032, numHashes: Int = 4): Int =
    BloomIndex.refresh(spark, catalog, name, index, jsonPath, numBits, numHashes)

  /** Pruning stats for a bloom point lookup (ops/assertion surface). */
  def bloomScanEq(index: String, value: String): MetadataIndex.IndexScan =
    BloomIndex.scanEq(spark, catalog, name, index, value)

  /** The bloom-pruned point lookup (exact equality re-applied per row). */
  def eventsBloomEq(index: String, value: String): org.apache.spark.sql.DataFrame =
    BloomIndex.eventsEq(spark, catalog, name, index, value)

  /** Build or incrementally refresh a per-chunk-file zone-map index over a
    * metadata field (`kind` = numeric for range pruning, string for
    * equality pruning) — returns the number of files newly indexed. See
    * [[MetadataIndex]] for the pruning and freshness contracts. */
  def refreshIndex(indexName: String, jsonPath: String,
                   kind: String = MetadataIndex.Numeric): Int =
    MetadataIndex.refresh(spark, catalog, name, indexName, jsonPath, kind)

  /** Indexed equality read over a string-kinded index — only chunk files
    * whose zone can contain `value` are opened. */
  def eventsIndexedEq(indexName: String, value: String): DataFrame =
    MetadataIndex.eventsEq(spark, catalog, name, indexName, value)

  /** [[indexScan]] for a string-equality read. */
  def indexScanEq(indexName: String, value: String): MetadataIndex.IndexScan =
    MetadataIndex.scanEq(spark, catalog, name, indexName, value)

  /** One-call maintenance policy: compact when any partition exceeds
    * `maxFilesPerPartition` live chunk files, vacuum debris, refresh every
    * zone-map index — see [[Catalog.maintainTopic]]. */
  def maintain(maxFilesPerPartition: Int = 16,
               chunkMaxRecords: Long = 1000000L): (Boolean, VacuumReport, Int) =
    catalog.maintainTopic(name, maxFilesPerPartition, chunkMaxRecords)

  /** Kafka `offsetsForTimes`+`seek` analog: reposition `consumerName`'s
    * cursor at the earliest event at/past `cutoff` under `eventTime`, per
    * partition — see [[Catalog.seekToTime]]. */
  def seekToTime(consumerName: String, eventTime: org.apache.spark.sql.Column,
                 cutoff: org.apache.spark.sql.Column): Map[Int, Long] =
    catalog.seekToTime(name, consumerName, eventTime, cutoff)

  /** Indexed read: only chunk files whose indexed-field range intersects
    * `[lower, upper]` are opened (unindexed files conservatively included);
    * the exact predicate is re-applied per row, so the rows equal filtering
    * [[events()*]] — only the I/O differs. */
  def eventsIndexed(indexName: String, lower: Double, upper: Double): DataFrame =
    MetadataIndex.events(spark, catalog, name, indexName, lower, upper)

  /** How many live files an indexed `[lower, upper]` read would open —
    * the ops/assertion surface for pruning effectiveness. */
  def indexScan(indexName: String, lower: Double, upper: Double): MetadataIndex.IndexScan =
    MetadataIndex.scan(spark, catalog, name, indexName, lower, upper)

  /** The validator compiled from the topic's persisted descriptor. */
  def validator: Validator = Validator.fromDescriptor(config.validator)

  /** Typed metadata view for schema-validated topics. */
  def typedMetadata(df: DataFrame): DataFrame = validator match {
    case sv: Validator.SchemaValidator =>
      df.withColumn("metadata_typed", sv.typedColumn(org.apache.spark.sql.functions.col("metadata")))
    case _ => df
  }
}
