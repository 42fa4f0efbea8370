package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/**
 * The engine side of SQL `MERGE INTO` / row-level `UPDATE` / row-level
 * `DELETE` (see [[graft.sql.GraftRowLevelOperation]] for the Spark
 * plumbing): turn the executors' staged per-task action files into the
 * engine commits, CRASH-ATOMICALLY across the pair.
 *
 * == Commit protocol ==
 *
 * A merge with only one side (pure inserts, or pure deletes — e.g. a SQL
 * DELETE whose predicate the metadata path could not translate) is a
 * single engine commit and inherits that commit's own crash atomicity.
 *
 * A merge with BOTH sides commits produce-FIRST, under a persisted intent:
 *
 *  1. under the produce lock: write a merge intent (staged-file list),
 *     then produce the insert actions, recording the produce's id ranges
 *     into the intent as the pre-commit step ([[Producer.produceHeld]]);
 *  2. after releasing the produce lock: vector-delete the delete actions
 *     ([[Catalog.deleteIdsVectored]] — takes the compact lock, which
 *     refuses while a produce lock is live, hence the ordering);
 *  3. remove the intent; the caller deletes the staging.
 *
 * The produce side is WATERMARK-DECIDABLE (the [[PidState]] pattern: the
 * ranges were fixed before any write, and the watermark commit is atomic)
 * and the delete side is IDEMPOTENT ([[Catalog.deleteIdsVectored]]
 * re-validates ids against the vector-applied log, so already-vectored
 * ids drop out of a re-run). [[Catalog.reconcileProduceState]] therefore
 * decides a crashed intent exactly, at the next produce-path entry:
 * ranges fully below the watermark ⇒ the produce committed ⇒ re-run the
 * delete (roll FORWARD — an interrupted UPDATE completes, never degrades
 * to an insert-only); otherwise ⇒ nothing is visible ⇒ discard the intent
 * (roll BACK — the merge never happened). Either way the pair converges;
 * a reader in the in-between window sees the inserted rows alongside the
 * not-yet-tombstoned matched rows (transient duplicates), never a state
 * where matched rows vanished without their replacements.
 *
 * Reference analog: none — the reference's producers are append-only
 * (`MofkaProducer.hpp` has no update surface); MERGE is part of this
 * engine's lakehouse extension.
 */
object MergeCommit {

  /** Staged action schema (`op` 0 = delete, 1 = insert), written by the
    * executor-side task writers ([[graft.sql.GraftMergeSupport]]) with the
    * group API. `partition` is OPTIONAL on inserts: a NULL stages through
    * and [[Producer.produce]] routes it through the topic's partition
    * selector (X1/X2 selection on every ingest path — an explicit request
    * is honored mod N only when actually present,
    * `/root/reference/src/DefaultPartitionSelector.hpp:17-50`). */
  val StagingSchema: org.apache.parquet.schema.MessageType =
    org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      """message graft_merge {
        |  required int32 op;
        |  optional int32 partition;
        |  required int64 event_id;
        |  optional binary metadata (STRING);
        |  optional binary data;
        |}""".stripMargin)

  val ReadSchema: StructType = StructType(Seq(
    StructField("op", IntegerType, nullable = false),
    StructField("partition", IntegerType, nullable = true),
    StructField("event_id", LongType, nullable = false),
    StructField("metadata", StringType),
    StructField("data", BinaryType)))

  private def staged(spark: SparkSession, files: Seq[String]): DataFrame =
    spark.read.schema(ReadSchema).parquet(files: _*)

  /** The delete actions' row ids — also recovery's roll-forward input. */
  private[engine] def deleteActions(spark: SparkSession, files: Seq[String]): DataFrame =
    staged(spark, files).filter(col("op") === 0)
      .select(col("partition"), col("event_id"))

  private def insertActions(spark: SparkSession, files: Seq[String]): DataFrame =
    staged(spark, files).filter(col("op") === 1)
      .select(col("partition"), col("metadata"), col("data"))

  /** True if a live merge intent references `stagingDirName` — the
    * caller's staging must then survive for recovery's roll-forward. */
  private[graft] def intentReferences(spark: SparkSession, warehouse: String,
                                      topic: String, stagingDirName: String): Boolean =
    new Catalog(spark, warehouse).listMergeIntents(topic).values
      .exists(i => new org.apache.hadoop.fs.Path(i.stagingDir).getName == stagingDirName)

  /** Commit a staged merge (see the protocol in the object Scaladoc).
    * On return the engine state is final; the STAGING is the caller's to
    * delete — unless this throws and an intent still references it, in
    * which case recovery owns the staging.
    *
    * `plannedVersion` drives the OPTIMISTIC CONFLICT CHECK (the Delta
    * WriteSerializable shape): the commit aborts — before anything is
    * visible — when rows were removed since the plan's snapshot (another
    * row-level operation's vector delete, or a log rewrite folding the
    * snapshot out), because the staged actions would re-assert state
    * matched against rows that no longer exist (a lost update / a
    * resurrection of compliance-deleted rows). Concurrent plain produces
    * never conflict: appends cannot invalidate a row-level plan. The
    * check runs at phase 1 (and inside the pure-delete commit's lock);
    * the phase-1→phase-2 gap is NOT re-checked — aborting there would
    * tear the already-committed produce, and the delete half stays
    * row-safe regardless (ids re-validate against the vector-applied
    * log). */
  /** Wraps a produce failure that happened AFTER its ranges provably
    * committed (intent kept; recovery owns the roll-forward): must never
    * be retried by the statement-patience loop — a retry would produce
    * the inserts a second time. Unwrapped before leaving [[commit]]. */
  private final class ProduceCommittedFailure(cause: Throwable)
    extends RuntimeException(cause)

  private[graft] def commit(spark: SparkSession, warehouse: String, topic: String,
                            files: Seq[String], deletes: Long, inserts: Long,
                            stagingDir: String,
                            plannedVersion: Option[Long] = None): Unit = {
    if (files.isEmpty || (deletes == 0L && inserts == 0L)) return
    // PRECONDITION the two-sided protocol rides on: a fresh `_inprogress`
    // heartbeat in the staging dir, so concurrent produce-path entries
    // read this statement's intent as LIVE across the phase-1→phase-2 gap
    // (a dead-reading intent would be rolled forward by a bystander, who
    // then deletes the staging while phase 2 is still reading it). The
    // SQL path's GraftDeltaBatchWrite creates and heartbeats the marker
    // around the whole write; a DIRECT caller without one gets it created
    // and heartbeated HERE, and removed on exit either way — on success
    // the staging is consumed, on failure the missing marker is exactly
    // what makes a kept intent decidable at the next entry instead of
    // after the staleness horizon.
    val fs = new org.apache.hadoop.fs.Path(stagingDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(stagingDir, "_inprogress")
    val ownMarker = deletes > 0L && inserts > 0L && !fs.exists(marker)
    val stopHeartbeat: () => Unit =
      if (!ownMarker) () => ()
      else {
        FileCreate.touch(fs, marker)
        Catalog.startFileHeartbeat(fs, marker)
      }
    try commitInner(spark, warehouse, topic, files, deletes, inserts,
      stagingDir, plannedVersion)
    catch { case e: ProduceCommittedFailure => throw e.getCause }
    finally {
      stopHeartbeat()
      if (ownMarker) fs.delete(marker, false): Unit
    }
  }

  private def commitInner(spark: SparkSession, warehouse: String, topic: String,
                          files: Seq[String], deletes: Long, inserts: Long,
                          stagingDir: String,
                          plannedVersion: Option[Long]): Unit = {
    val catalog = new Catalog(spark, warehouse)
    // STATEMENT-LEVEL patience (the Delta-queueing UX): a refusal whose
    // only cause is somebody ELSE mid-flight — a foreign live intent, a
    // live compaction, a contended produce lock — retries the whole
    // serialize-check-commit up to [[Catalog.mergeCommitWaitMs]] (catalog-scoped) before
    // surfacing. Semantics unchanged (row-level statements still fully
    // serialize; every retry re-runs every gate from scratch against the
    // then-current state); only the failure mode moves from "error the
    // caller must loop on" to "bounded wait". Safe to re-run because each
    // retried attempt provably committed NOTHING: conflicts are thrown
    // before any write, and a produce failure that rolled its intent back
    // left no trace — the one failure-after-commit shape rethrows as
    // [[ProduceCommittedFailure]], which this loop never retries.
    val stmtDeadline = System.currentTimeMillis() + catalog.mergeCommitWaitMs
    def withStatementPatience[A](body: => A): A = {
      while (true) {
        try return body
        catch {
          case _: LockConflictException
              if System.currentTimeMillis() < stmtDeadline =>
            Thread.sleep(250L)
        }
      }
      throw new IllegalStateException("unreachable")
    }

    if (deletes == 0L) {
      // single commit — produce's own crash contract covers it; pure
      // inserts are appends and never conflict
      withStatementPatience {
        new Producer(spark, catalog, catalog.openTopic(topic))
          .produce(insertActions(spark, files)): Unit
      }
      return
    }
    if (inserts == 0L) {
      // single commit — the vector delete's own protocol covers it, and
      // the conflict check runs inside ITS lock (fully serialized)
      withStatementPatience {
        catalog.deleteIdsVectored(topic, deleteActions(spark, files),
          plannedVersion): Unit
      }
      return
    }

    val mergeId = java.util.UUID.randomUUID().toString.take(12)
    def intent(ranges: Option[Vector[TxnRange]]) =
      MergeIntent(stagingDir, files.toVector, deletes, inserts, ranges)

    // phase 1: intent + produce, under the produce lock
    withStatementPatience {
      // draining acquisition: the merge's produce phase writes data under
      // the held lock (see Catalog's concurrent-produce intent protocol)
      catalog.acquireProduceLockDraining(topic)
      try {
        val survivors = catalog.reconcileProduceState(topic).liveMerges
        // serialize the conflict check (three gates, in order):
        //  1. no FOREIGN intent may survive the reconcile — a LIVE merge
        //     past its produce commit is an undetectable pending removal
        //     (its delete-vector note lands only in ITS phase 2), so a
        //     second merge committing beside it would re-assert stale
        //     matched state (write skew); plan-time refusal cannot catch a
        //     merge that planned before the other's intent existed;
        //  2. no live compact-lock holder — a vector delete or rewrite
        //     mid-commit could land its evidence between our check and our
        //     produce; with the produce lock HELD, none can START after
        //     this gate (acquireCompactLock refuses under a live produce),
        //     so the check that follows is race-free;
        //  3. the removal check itself (NOT retryable: a real conflict
        //     with committed state, not somebody mid-flight).
        val foreign = survivors
        if (foreign.nonEmpty) throw new ConcurrentMergeException(
          s"topic '$topic': another MERGE/UPDATE/DELETE is mid-commit " +
          s"(intents: ${foreign.keys.mkString(", ")}) — row-level " +
          "operations serialize; retry after it completes.")
        catalog.failIfCompacting(topic)
        plannedVersion.foreach(catalog.failOnRowRemovalSince(topic, _))
        catalog.writeMergeIntent(topic, mergeId, intent(None))
        try {
          new Producer(spark, catalog, catalog.openTopic(topic))
            .produceHeld(insertActions(spark, files), ranges =>
              catalog.writeMergeIntent(topic, mergeId,
                intent(Some(TxnRange.toRanges(ranges))))): Unit
        } catch {
          case e: Throwable =>
            // produce failed. We still hold the lock, so unless its ranges
            // are provably committed (they never are on the failure paths —
            // nothing runs between the watermark write and produce's
            // return), nothing is visible: roll the intent back so this
            // failed MERGE leaves no trace — including a mid-produce lock
            // conflict (e.g. a racing compaction), which the patience loop
            // may then re-attempt whole. The provably-committed case keeps
            // the intent — recovery rolls the delete forward — and is
            // wrapped non-retryable: a re-run would double the inserts.
            val committed = catalog.mergeIntent(topic, mergeId)
              .exists(_.produceCommitted(catalog.nextIds(topic)))
            if (!committed) { catalog.removeMergeIntent(topic, mergeId); throw e }
            else throw new ProduceCommittedFailure(e)
        }
      } finally catalog.releaseProduceLock(topic)
    }

    // phase 2: the vector-delete commit (compact lock; the produce lock
    // must be released first — acquireCompactLock refuses under a live
    // produce). With the produce already committed, a ROUTINE lock
    // conflict here (another producer's commit, a live compaction) must
    // not surface a half-applied statement, so conflicts retry with
    // backoff up to [[Catalog.mergeCommitWaitMs]] (catalog-scoped) — the old delete-first
    // ordering hit the same conflicts BEFORE anything was visible and
    // could fail clean; this ordering owes the statement more patience.
    // A crash or final failure is rolled FORWARD by
    // reconcileProduceState: the delete re-run is idempotent.
    val deadline = System.currentTimeMillis() + catalog.mergeCommitWaitMs
    val dels = deleteActions(spark, files) // lazy relation — built once
    var done = false
    while (!done) {
      // probe the produce lock BEFORE touching the compact lock: each
      // deleteIdsVectored attempt transiently HOLDS the compact lock
      // while checking for produces, and a concurrent producer's
      // failIfCompacting racing one of ~240 such windows would abort an
      // innocent produce as "compaction in progress"
      if (catalog.produceInFlight(topic) &&
          System.currentTimeMillis() < deadline) {
        Thread.sleep(250L)
      } else {
        try {
          catalog.deleteIdsVectored(topic, dels): Unit
          done = true
        } catch {
          // matched by TYPE — a routine conflict is whatever the lock
          // layer THROWS as one, never a message-substring guess (a
          // reworded message must not silently disable this patience)
          case _: LockConflictException
              if System.currentTimeMillis() < deadline =>
            Thread.sleep(250L)
        }
      }
    }
    catalog.removeMergeIntent(topic, mergeId)
  }
}
