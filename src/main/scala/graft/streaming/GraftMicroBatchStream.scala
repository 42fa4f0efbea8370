package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming._
import org.apache.spark.sql.types.StructType

import graft.engine.{Catalog, ChunkFiles}

/**
 * Streaming offset: next-unread EventID per partition — exactly the
 * reference's per-consumer cursor state
 * (`/root/reference/src/DefaultPartitionManager.hpp:214-215`).
 *
 * A change-feed stream (`readChangeFeed`) additionally carries `ver`: the
 * highest commit VERSION whose deletion-vector preimages have been
 * emitted. Plain streams keep the legacy bare-map JSON, so existing
 * checkpoints deserialize unchanged; CDF offsets wrap both fields.
 */
final case class TopicOffset(next: Map[Int, Long], ver: Option[Long] = None)
  extends Offset {
  override def json(): String = ver match {
    case None => Catalog.idMapToJson(next)
    case Some(v) => s"""{"ver":$v,"next":${Catalog.idMapToJson(next)}}"""
  }
}

object TopicOffset {
  def fromJson(json: String): TopicOffset = {
    import org.json4s._
    org.json4s.jackson.JsonMethods.parse(json) match {
      case o: JObject if (o \ "ver") != JNothing =>
        val JInt(v) = (o \ "ver"): @unchecked
        val next = org.json4s.jackson.JsonMethods.compact(
          org.json4s.jackson.JsonMethods.render(o \ "next"))
        TopicOffset(Catalog.idMapFromJson(next), Some(v.toLong))
      case _ => TopicOffset(Catalog.idMapFromJson(json))
    }
  }
}

/**
 * The `feedConsumer` cursor walk (`DefaultPartitionManager.cpp:415-504`) as
 * a `MicroBatchStream`:
 *
 *  - offsets = per-partition next id; each micro-batch covers
 *    `[start(p), end(p))` per partition;
 *  - admission control (`SupportsAdmissionControl`) bounds a batch to
 *    `maxEventsPerTrigger` events, advancing partitions round-robin-fairly —
 *    the reference's adaptive feed batch (S3/S8);
 *  - `Trigger.AvailableNow` (`SupportsTriggerAvailableNow`) latches the
 *    watermark at start and terminates when drained — the NoMoreEvents
 *    end-of-stream contract (D5) for completed topics.
 */
final class GraftMicroBatchStream(
    catalog: Catalog, topic: String, consumer: Option[String],
    targets: Option[Set[Int]], requiredSchema: StructType,
    maxEventsPerTrigger: Option[Long],
    serializerJson: String = """{"type":"json"}""",
    startingTime: Option[(String, Long)] = None,
    maxBytesPerTrigger: Option[Long] = None,
    startingIds: Option[Map[Int, Long]] = None,
    cdf: Boolean = false,
    startingVersionNum: Option[Long] = None,
    readCommitted: Boolean = false)
  extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private var availableNowTarget: Option[TopicOffset] = None
  /** chunk files are immutable — footer ranges cached for the stream's life */
  private val fileStats = new FileStatsCache

  /** CDF streams track the emitted-deletes version frontier; the latest
    * retained version is one manifest-log listing per trigger (the same
    * order of work as the `currentNext` watermark read). */
  private def currentVersion(): Long =
    catalog.versionHistory(topic).lastOption.map(_.version).getOrElse(0L)

  /** The version frontier a CDF trigger may advance to. Normally the
    * latest retained version — EXCEPT that a recent `delete-vector`-noted
    * commit whose root is not yet visible holds the frontier just below
    * it: the delete's manifest commit precedes its root rename
    * ([[Catalog.deleteWhereVectored]]), and a trigger advancing past the
    * commit inside that window would checkpoint `ver` beyond it and skip
    * the preimages FOREVER (delete emission is gated by version). A noted
    * commit older than the in-flight horizon with still no root is a
    * crashed (aborted) delete — its vectors never apply either — and
    * stops holding the frontier.
    *
    * Multi-statement transactions refine both sides: a root GATED by an
    * OPEN transaction ([[Catalog.stageTxnDelete]]) is genuinely undecided
    * — it holds the frontier however old its noted commit is (advancing
    * past it, then the transaction committing, would skip the preimages
    * forever), while a root whose gate is decided-dead (aborted/purged)
    * stops holding immediately instead of running out the horizon. */
  private def cdfFrontier(fromVer: Long): Long = {
    val history = catalog.versionHistory(topic)
    if (history.isEmpty) return fromVer
    val horizon = GraftMicroBatchStream.cdfHoldbackMs(
      org.apache.spark.sql.SparkSession.active)
    // sidecar-aware: a fold buries root-name version tags but persists
    // them in `_sources.json` — the probe must keep seeing them, or a
    // fresh delete commit folded before the stream observed it would
    // hold the frontier for the whole in-flight horizon. One `_deletes`
    // listing feeds all three sets.
    lazy val probe = catalog.cdfVectorRootProbe(topic)
    lazy val visibleRootVersions: Set[Long] = probe._1
    lazy val openGatedVersions: Set[Long] = probe._2
    lazy val deadGatedVersions: Set[Long] = probe._3
    val now = System.currentTimeMillis()
    val blocked = history.find(v => v.version > fromVer &&
      v.note.contains(Catalog.DeleteVectorNote) &&
      (openGatedVersions.contains(v.version) ||
        (now - v.commitTimeMs < horizon &&
          !visibleRootVersions.contains(v.version) &&
          !deadGatedVersions.contains(v.version))))
    blocked match {
      case None => history.last.version
      case Some(b) => history.filter(_.version < b.version).lastOption
        .map(_.version).getOrElse(fromVer)
    }
  }

  private def verOf(o: TopicOffset): Long = o.ver.getOrElse(0L)

  private def currentNext(): Map[Int, Long] = {
    val next = catalog.nextIds(topic)
    val scoped = targets match {
      case Some(t) => next.view.filterKeys(t.contains).toMap
      case None => next
    }
    // read_committed: the last-stable-offset clamp (Kafka LSO) — offsets
    // must not pass an OPEN transaction's first id, because its outcome
    // is unknown: advancing then committing would skip its rows forever,
    // advancing then aborting is fine but indistinguishable in advance.
    // An abandoned open transaction stalls the committed stream at its
    // LSO only until the transaction TIMEOUT (spark.graft.txn.timeoutMs,
    // Kafka's transaction.timeout.ms) auto-aborts it at the next
    // write-path entry or maintainTopic pass — or decide it explicitly
    // (commit/abort) to release immediately. Decided-dead (aborted)
    // ranges never hold: they are filtered from batches as offsets pass
    // them. The clamp can sit BELOW a checkpoint's committed end offset
    // (e.g. isolation switched to read_committed on a checkpoint written
    // under read_uncommitted): latestOffset(start, limit) floors every
    // per-partition end at `start`, so the window never inverts — the
    // batch is simply empty until the transaction decides (already-
    // delivered rows are never un-delivered; switching isolation on a
    // live checkpoint changes semantics only forward, like changing
    // isolation.level on an existing Kafka group).
    if (!readCommitted) scoped
    else {
      val open = catalog.splitTxnRanges(topic)._1
      if (open.isEmpty) scoped
      else scoped.map { case (p, n) =>
        p -> open.filter(_.partition == p).map(_.first).foldLeft(n)(math.min)
      }
    }
  }

  /** Fresh-start position only — Spark consults the checkpoint first, so
    * a restarted stream ignores `startingTime` exactly like Kafka's
    * `startingTimestamp` (the pin is a one-time birth certificate, not a
    * per-run filter). */
  override def initialOffset(): Offset = {
    val start: Map[Int, Long] = startingTime match {
      case Some((field, cutoff)) =>
        import org.apache.spark.sql.functions.{col, get_json_object, lit}
        // stored-form topics: decode through the serializer before the
        // field extraction, same as the consumer view (Z1)
        val md =
          graft.engine.Serializer.fromDescriptorJson(serializerJson).decodedMetadataCol
        catalog.timeFloor(topic,
          get_json_object(md, field).cast("long"), lit(cutoff))
      case None =>
        // `startingVersion`'s pre-resolved watermark: the stream is born
        // just past that commit (events produced AFTER it — Delta's
        // startingVersion shape, kept exclusive to match events(from, to)).
        // Same birth-certificate contract as startingTime: a restart reads
        // the checkpoint, never re-resolves. Mutually exclusive with
        // `consumer`/startingTime*, enforced at option resolution.
        startingIds
          .orElse(consumer.map(c => catalog.cursor(topic, c)))
          .getOrElse(Map.empty)
    }
    TopicOffset(currentNext().keys.map(p => p -> start.getOrElse(p, 0L)).toMap,
      // CDF: delete emission starts right past the birth version — the
      // startingVersion pin when given, else the beginning of history
      // (emit every retained in-span delete, mirroring changes(0, now))
      if (cdf) Some(startingVersionNum.getOrElse(0L)) else None)
  }

  override def deserializeOffset(json: String): Offset = TopicOffset.fromJson(json)

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(TopicOffset(currentNext(),
      if (cdf) Some(cdfFrontier(startingVersionNum.getOrElse(0L))) else None))

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  override def getDefaultReadLimit: ReadLimit = {
    val limits = maxEventsPerTrigger.map(ReadLimit.maxRows).toSeq ++
      maxBytesPerTrigger.map(ReadLimit.maxBytes).toSeq
    limits match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  /** Fair row budget split: rounds of equal chunks over partitions that
    * still have backlog, with the visit order ROTATED per batch (keyed
    * off the advancing start offsets) — so even a budget smaller than
    * the partition count cannot starve high-id partitions forever. */
  private def capRows(from: Map[Int, Long], target: Map[Int, Long],
                      maxRows: Long): Map[Int, Long] = {
    var budget = maxRows
    val parts = target.keys.toSeq.sorted
    val rotation =
      if (parts.isEmpty) 0
      else math.floorMod(from.values.sum, parts.size.toLong).toInt
    val visitOrder = parts.drop(rotation) ++ parts.take(rotation)
    val backlog = scala.collection.mutable.Map(
      target.toSeq.map { case (p, end) =>
        p -> math.max(end - from.getOrElse(p, 0L), 0L)
      }: _*)
    val taken = scala.collection.mutable.Map(backlog.keys.map(_ -> 0L).toSeq: _*)
    while (budget > 0 && backlog.values.exists(_ > 0)) {
      val active = backlog.count(_._2 > 0)
      val chunk = math.max(budget / active, 1L)
      visitOrder.foreach { p =>
        val rem = backlog(p)
        if (rem > 0 && budget > 0) {
          val take = math.min(math.min(rem, chunk), budget)
          taken(p) += take
          backlog(p) = rem - take
          budget -= take
        }
      }
    }
    taken.map { case (p, t) => p -> (from.getOrElse(p, 0L) + t) }.toMap
  }

  /** Byte budget admission at whole-chunk-file granularity — the
    * `maxBytesPerTrigger` analog of the reference producer's byte-shaped
    * backpressure (`ActiveProducerBatchQueue.hpp:70-72` blocks on QUEUED
    * batches, whose size is bytes, not rows — payloads are variable).
    * Semantics match Spark's file source: admit pending files in id order,
    * round-robin across partitions, until the budget is spent; always at
    * least one file per trigger so an oversized chunk cannot stall the
    * stream. A partially-consumed file (start cursor inside it) is counted
    * at full size — conservative, and self-correcting next trigger. File
    * lengths and id ranges come from the per-stream immutable-file cache,
    * so a long-lived stream pays one stat+footer read per NEW chunk.
    *
    * Planning is WINDOWED so admission work is O(admitted files) per
    * trigger, never O(backlog files): only the id-range
    * `[cursor, cursor + step)` is planned (pushed into the manifest
    * relation as a pruning predicate past the driver threshold), and a
    * partition's window grows — step doubling — only while the budget
    * still has room. A fresh stream replaying a 100× backlog therefore
    * touches the few files it admits each trigger, not the whole remaining
    * history (which would be quadratic cumulative over the drain). */
  private def capBytes(from: Map[Int, Long], target: Map[Int, Long],
                       maxBytes: Long): Map[Int, Long] = {
    val conf = catalog.hadoopConf
    val cursor: Map[Int, Long] =
      target.keys.map(p => p -> math.max(from.getOrElse(p, 0L), 0L)).toMap
    val window0 = math.max(1L, GraftMicroBatchStream.bytesPlanWindow(
      org.apache.spark.sql.SparkSession.active))
    val step = scala.collection.mutable.Map(
      target.keys.map(_ -> window0).toSeq: _*)
    val winEnd = scala.collection.mutable.Map(cursor.toSeq: _*)
    val pending = scala.collection.mutable.Map(
      target.keys.map(_ -> Vector.empty[String]).toSeq: _*)
    val seen = scala.collection.mutable.Map(
      target.keys.toSeq.map(_ -> scala.collection.mutable.Set.empty[String]): _*)

    /** Grow the given partitions' windows by one (doubling) step and append
      * the newly-visible files in id order. Windows re-plan from the cursor
      * (entries are deduped by path), so total planned entries stay within
      * 2× the final window — geometric, not quadratic. */
    def extend(ps: Seq[Int]): Unit = {
      val grow = ps.filter(p => winEnd(p) < target.getOrElse(p, 0L))
      if (grow.isEmpty) return
      val newEnd = grow.map { p =>
        p -> math.min(target.getOrElse(p, 0L), winEnd(p) + step(p))
      }.toMap
      GraftPartitions.plan(catalog, topic, Some(grow.toSet),
          p => cursor.getOrElse(p, 0L), p => newEnd.getOrElse(p, 0L),
          Some(fileStats), sparse = true)
        .collect { case ip: GraftInputPartition => ip }
        .foreach { ip =>
          val fresh = ip.files.filterNot(seen(ip.partition).contains)
          fresh.foreach(f => seen(ip.partition).add(f): Unit)
          pending(ip.partition) = pending(ip.partition) ++ fresh
        }
      grow.foreach { p =>
        winEnd(p) = newEnd(p)
        step(p) = math.min(step(p) * 2, Long.MaxValue / 4)
      }
    }
    /** Ensure partition p either has an unconsumed pending file or is
      * provably exhausted — an id-gap (compliance delete) can make a whole
      * window empty, so keep doubling through gaps. */
    def fill(p: Int, idx: Int): Unit =
      while (idx >= pending(p).size && winEnd(p) < target.getOrElse(p, 0L))
        extend(Seq(p))

    // start from the cursor; only admitted files advance a partition's end
    val res = scala.collection.mutable.Map(target.toSeq.map { case (p, e) =>
      p -> math.min(e, cursor.getOrElse(p, 0L)) }: _*)
    var budget = maxBytes
    var admitted = false
    // starvation-free order WITHOUT cross-trigger state: lowest cursor
    // first. A partition passed over keeps its offset while the favored
    // one's grows, so it sorts ahead on a later trigger — a fixed or
    // cursor-sum-keyed rotation can stay constant when admitted file sizes
    // divide evenly and starve a partition forever.
    val order = target.keys.toSeq.sortBy(p => (cursor.getOrElse(p, 0L), p))
    extend(order) // first window for every partition in ONE plan call
    val idx = scala.collection.mutable.Map(order.map(_ -> 0): _*)
    var progressed = true
    while (progressed && budget > 0) {
      progressed = false
      order.foreach { p =>
        if (budget > 0) {
          fill(p, idx(p))
          val files = pending(p)
          if (idx(p) < files.size) {
            val f = files(idx(p))
            val len = fileStats.length(f, conf)
            if (len <= budget || !admitted) {
              budget -= len
              admitted = true
              val hi = fileStats.range(f, conf)._2
              // a stats-less file reports hi = Long.MaxValue (never-prunable):
              // admit through the end of the backlog rather than wrapping
              res(p) =
                if (hi == Long.MaxValue) target.getOrElse(p, 0L)
                else math.min(target.getOrElse(p, 0L), hi + 1)
              idx(p) += 1
              progressed = true
            }
          }
        }
      }
    }
    res.toMap
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val target = availableNowTarget.map(_.next).getOrElse(currentNext())
    val startOff = start.asInstanceOf[TopicOffset]
    val from = startOff.next
    // CDF version frontier: admission caps bound the INSERT id window only
    // (delete preimages are maintenance-bounded — ≤4 roots before a fold);
    // max() keeps the offset monotone across a restoreTo that dropped tail
    // versions mid-stream.
    val targetVer: Option[Long] =
      if (!cdf) None
      else Some(math.max(verOf(startOff),
        availableNowTarget.flatMap(_.ver)
          .getOrElse(cdfFrontier(verOf(startOff)))))
    def flatten(l: ReadLimit): Seq[ReadLimit] = l match {
      case c: CompositeReadLimit => c.getReadLimits.toSeq.flatMap(flatten)
      case other => Seq(other)
    }
    // each cap only lowers per-partition ends, so composition is order-free
    val capped = flatten(limit).foldLeft(target) {
      case (tgt, rows: ReadMaxRows) => capRows(from, tgt, rows.maxRows())
      case (tgt, bytes: ReadMaxBytes) => capBytes(from, tgt, bytes.maxBytes())
      case (tgt, _) => tgt
    }
    TopicOffset(capped.map { case (p, v) => p -> math.max(v, from.getOrElse(p, 0L)) },
      targetVer)
  }

  override def reportLatestOffset(): Offset =
    TopicOffset(currentNext(), if (cdf) Some(currentVersion()) else None)

  /** Memoized per (start, end), briefly: Spark's DSv2 machinery calls
    * planInputPartitions several times per micro-batch (measured ~6× —
    * stats, RDD creation, re-planning), all within one batch's planning
    * window, so one plan per batch saves the repeated manifest/tier
    * metadata reads (object-store round trips at scale). The cache
    * EXPIRES after a few seconds: a batch RETRY minutes later with the
    * same offsets must re-plan, or a compaction that rewrote the chunk
    * files in between would pin the retry to deleted paths forever
    * (the roll-race recovery contract). */
  private var lastPlan: Option[((TopicOffset, TopicOffset), Long, Array[InputPartition])] =
    None

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    synchronized {
      val so = start.asInstanceOf[TopicOffset]
      val eo = end.asInstanceOf[TopicOffset]
      val s = so.next
      val e = eo.next
      val now = System.nanoTime()
      lastPlan match {
        case Some((key, at, planned))
            if key == (so, eo) && now - at < 10L * 1000 * 1000 * 1000 => planned
        case _ =>
          val planned =
            if (cdf)
              GraftCdf.planChanges(catalog, topic, targets,
                fromVer = verOf(so), toVer = verOf(eo),
                from = p => s.getOrElse(p, 0L),
                until = p => e.getOrElse(p, 0L),
                Some(fileStats), catalog.versionHistory(topic))
            else {
              // read_committed: decided-dead (aborted) transaction ranges
              // are filtered from the batch — offsets advance past them
              // (holding would stall forever; the rows never apply).
              // Recomputed per plan: an abort landing between batches is
              // excluded from the NEXT window; ranges already emitted
              // were committed-or-plain at emission time because the LSO
              // clamp never let an undecided range into a window.
              val exclude: Map[Int, Seq[(Long, Long)]] =
                if (!readCommitted) Map.empty
                else catalog.splitTxnRanges(topic)._2
                  .groupBy(_.partition).view
                  .mapValues(_.map(r => (r.first, r.first + r.count))
                    .sortBy(_._1).toSeq).toMap
              val base = GraftPartitions.plan(catalog, topic, targets,
                from = p => s.getOrElse(p, 0L),
                until = p => e.getOrElse(p, 0L),
                Some(fileStats),
                exclude = exclude)
              // row tracking on a plain stream: per-trigger history read,
              // only when the commit columns were actually projected (the
              // entry cache makes it one listing + new entries)
              if (GraftCdf.wantsLineage(requiredSchema))
                GraftCdf.attachLineage(base, catalog.versionHistory(topic))
              else base
            }
          lastPlan = Some(((so, eo), now, planned))
          planned
      }
    }

  override def createReaderFactory(): PartitionReaderFactory = {
    // the same columnar handoff as the batch scan: micro-batch slices of
    // default-serializer topics decode to ColumnarBatches (the trigger's
    // [start, end) cursor window is enforced per batch by the columnar
    // reader, exactly like the watermark on the batch path)
    GraftReaderFactory(requiredSchema, catalog.hadoopConf, serializerJson,
      // CDF/row-tracking rows carry per-row commit attribution — a row
      // path by design
      columnar = !cdf && !GraftCdf.wantsLineage(requiredSchema) &&
        graft.engine.Serializer.fromDescriptorJson(serializerJson) ==
          graft.engine.Serializer.Json)
  }

  /** Offsets are checkpoint-managed by Spark; the engine-level acknowledge
    * cursor stays an explicit consumer API call (at-least-once contract). */
  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

object GraftMicroBatchStream {
  /** First windowed-planning id-range for byte admission (ids, not bytes —
    * chunk rotation bounds ids per file, so a window of this size holds a
    * handful of files); doubles per partition until the byte budget fills
    * or the backlog ends. Conf-overridable so scale tests can force
    * windows smaller than a tiny fixture's backlog. */
  def bytesPlanWindow(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("spark.graft.stream.bytesPlanWindowIds").map { v =>
      try v.trim.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"spark.graft.stream.bytesPlanWindowIds must be a long, got '$v'")
      }
    }.getOrElse(65536L)

  /** How long a `delete-vector`-noted commit with no visible root holds
    * the CDF version frontier back (ms). In flight, the commit→rename gap
    * is sub-second under the compact lock; past the horizon the commit is
    * treated as a crashed (aborted) delete. Conf-overridable so tests can
    * force both sides. */
  def cdfHoldbackMs(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("spark.graft.stream.cdfDeleteHoldbackMs").map { v =>
      try v.trim.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"spark.graft.stream.cdfDeleteHoldbackMs must be a long, got '$v'")
      }
    }.getOrElse(600000L)
}

/**
 * Driver-side cache of per-file `event_id` footer ranges. Chunk files are
 * immutable once written, so a range read once is valid forever; a stream
 * pays one footer read per NEW file per lifetime, and fully-acked tail-read
 * slices ship only the files that overlap the cursor range — the file-level
 * analog of the reference's chunk index
 * (`/root/reference/src/DefaultPartitionManager.cpp:682-735`).
 */
final class FileStatsCache {
  /** Access-ordered LRU, bounded at [[FileStatsCache.MaxEntries]]: a
    * months-long stream over millions of rotated chunks must not grow
    * driver heap without bound, and eviction is per-entry — no clear-at-cap
    * cliff where every live footer gets re-read at once. */
  private val ranges =
    new java.util.LinkedHashMap[String, (Long, Long)](1024, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (Long, Long)]): Boolean =
        size() > FileStatsCache.MaxEntries
    }

  private val lengths =
    new java.util.LinkedHashMap[String, java.lang.Long](1024, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, java.lang.Long]): Boolean =
        size() > FileStatsCache.MaxEntries
    }

  /** (min, max) event_id of the file, from its footer (files are immutable
    * once written, so a range read once is valid for the file's lifetime). */
  def range(path: String, conf: org.apache.hadoop.conf.Configuration): (Long, Long) =
    synchronized {
      val cached = ranges.get(path)
      if (cached != null) cached
      else {
        val r = graft.engine.Catalog.fileIdRange(new Path(path), conf)
        ranges.put(path, r)
        r
      }
    }

  /** Byte length of the file (same immutability argument — one stat per
    * file per stream lifetime). Feeds `maxBytesPerTrigger` admission. */
  def length(path: String, conf: org.apache.hadoop.conf.Configuration): Long =
    synchronized {
      val cached = lengths.get(path)
      if (cached != null) cached.longValue()
      else {
        val p = new Path(path)
        val len = p.getFileSystem(conf).getFileStatus(p).getLen
        lengths.put(path, len)
        len
      }
    }
}

object FileStatsCache {
  val MaxEntries = 200000
}

/** How a batch scan treats the topic's deletion vectors. */
sealed trait GraftDeleteMode
object GraftDeleteMode {
  /** Drop vectored rows — every normal read. */
  case object Apply extends GraftDeleteMode
  /** Ignore vectors entirely: the raw log as physically stored — the
    * change-data-feed's INSERT side (a row inserted in a version span is
    * an insert even if vectored afterwards). */
  case object Ignore extends GraftDeleteMode
  /** Keep ONLY the rows vectored by `root` — the change-data-feed's
    * DELETE-preimage side (vectored rows stay physically present in the
    * chunk files until a rewrite folds them). `source` narrows a FOLD
    * root (which carries several folded delete commits) to one of its
    * `(_v, _ms)`-stamped sources — plain roots pass None (their files
    * lack the columns). */
  final case class Only(root: String,
                        source: Option[(Long, Long)] = None) extends GraftDeleteMode
}

/** Shared partition planning: one input slice per topic partition holding
  * the partition's OVERLAPPING chunk files (file-level pruning via the
  * produce-committed manifest, falling back to directory listing + the
  * footer-stats cache; the reader then prunes at row-group granularity). */
object GraftPartitions {
  /** Byte-admission probe counter (cumulative file entries planned by
    * sparse window probes in this JVM) — observability hook for scale
    * tests: a byte-budgeted trigger over a large backlog must probe
    * O(admitted) entries, not O(backlog). */
  private[graft] val probePlannedEntries = new java.util.concurrent.atomic.AtomicLong

  /** @param stats when set, prune files by footer event_id ranges on the
    *        LISTING fallback path; pass None when nothing can be pruned
    *        (e.g. unbounded batch scans) — footer reads on the driver are
    *        not free. The manifest path always prunes (ranges are free).
    * @param sparse marks byte-admission window probes for the
    *        [[probePlannedEntries]] observability counter. Id-gap ranges
    *        (compliance deletes, emptied partitions) plan as empty slices
    *        for EVERY caller — the manifest is the committed truth, and a
    *        covering watermark with no overlapping file entry is the
    *        legitimate post-purge state, not divergence. */
  def plan(catalog: Catalog, topic: String, targets: Option[Set[Int]],
           from: Int => Long, until: Int => Long,
           stats: Option[FileStatsCache] = None,
           sparse: Boolean = false,
           deleteMode: GraftDeleteMode = GraftDeleteMode.Apply,
           exclude: Map[Int, Seq[(Long, Long)]] = Map.empty): Array[InputPartition] = {
    // a snapshot roll (manifest) or archive pass (tier) deletes its
    // superseded parquet relation right after committing the new state; a
    // plan racing that delete hits FileNotFound mid-collect. Retry ONCE
    // from scratch — the fresh reads see the rolled state; a second miss
    // propagates (real trouble, not a race).
    val r = Catalog.retryOnRollRace(
      planAttempt(catalog, topic, targets, from, until, stats, deleteMode, exclude))
    if (sparse) probePlannedEntries.addAndGet(
      r.collect { case ip: GraftInputPartition => ip.files.size.toLong }.sum): Unit
    r
  }

  private def planAttempt(catalog: Catalog, topic: String, targets: Option[Set[Int]],
           from: Int => Long, until: Int => Long,
           stats: Option[FileStatsCache],
           deleteMode: GraftDeleteMode,
           exclude: Map[Int, Seq[(Long, Long)]] = Map.empty): Array[InputPartition] = {
    // read_committed: this slice's share of the uncommitted-transaction id
    // ranges — window-overlapping only, so the common case ships nothing
    def excludedFor(p: Int, lo: Long, hi: Long): Seq[(Long, Long)] =
      exclude.getOrElse(p, Nil).filter(r => r._2 > lo && r._1 < hi)
    val spark = org.apache.spark.sql.SparkSession.active
    val conf = spark.sparkContext.hadoopConfiguration
    val logPath = new Path(catalog.logPath(topic))
    val fs = logPath.getFileSystem(conf)

    // Cold-tier files (tiered topics): absolute paths with footer ranges,
    // pruned by the slice exactly like manifest entries (one
    // [[ChunkFiles.slice]] each — a relation-backed list, at scale the cold
    // tier is MOST of the topic, collects only the overlapping files). Both
    // planning paths append them — archived history must stay readable
    // through the source (a fresh stream replaying from id 0 reads mostly
    // cold files). Deletion vectors ride on every slice (readers prune to
    // their own partition + id window via parquet row-group statistics);
    // one listing, empty for the overwhelming majority of topics. The
    // change-data-feed overrides: Ignore reads the raw log, Only(root)
    // inverts the reader filter to surface exactly that root's delete
    // preimages.
    val deleteFiles: Seq[String] = deleteMode match {
      case GraftDeleteMode.Apply => catalog.deleteVectorFiles(topic)
      case GraftDeleteMode.Ignore => Nil
      case GraftDeleteMode.Only(root, _) => Seq(root)
    }
    val deleteKeepOnly = deleteMode.isInstanceOf[GraftDeleteMode.Only]
    val deleteSource: Option[(Long, Long)] = deleteMode match {
      case GraftDeleteMode.Only(_, src) => src
      case _ => None
    }
    // every targeted partition with a non-empty id window [lo, hi)
    val bounds: Seq[(Int, Long, Long)] = (0 until catalog.openTopic(topic).partitions)
      .filter(p => targets.forall(_.contains(p)))
      .map(p => (p, math.max(from(p), 0L), until(p)))
      .filter(b => b._3 > b._2)
    val tierSt = catalog.tierState(topic)
    val hasCold = tierSt.exists(t => t.files.nonEmpty || t.filesRef.isDefined)
    val coldSlice: ChunkFiles.Files = tierSt.map(t =>
      ChunkFiles.slice(catalog.tierFilesRel(topic, t), t.files, bounds)).getOrElse(Map.empty)
    def coldFiles(p: Int): Seq[String] =
      coldSlice.getOrElse(p, Vector.empty)
        .map(f => new Path(f.path).getFileSystem(conf)
          .makeQualified(new Path(f.path)).toString)

    // Manifest-first: when every partition with backlog is covered by the
    // produce-committed manifest (watermark ≥ the slice end), planning is
    // two small-file reads — NO directory listing, NO footer reads. This is
    // the O(new files) shape a per-trigger walk needs at 100× scale; the
    // listing path below remains the fallback for pre-manifest topics or a
    // deleted manifest. Parquet-backed manifests (past the driver
    // threshold) never materialize their file list here: the slice's
    // id-range predicate is pushed into the relation and only KEPT entries
    // are collected — O(overlapping files), which for a streaming tail
    // read is the trigger's new files, not the topic's history.
    def manifestPlan(): Option[Array[InputPartition]] = catalog.readManifest(topic) match {
      case Some(m) =>
        if (!bounds.forall { case (p, _, hi) => m.watermarks.getOrElse(p, 0L) >= hi }) None
        else {
          val hotSlice = ChunkFiles.slice(catalog.manifestFilesRel(topic, m), m.files, bounds)
          Some(bounds.flatMap { case (p, lo, hi) =>
            val files = coldFiles(p) ++ hotSlice.getOrElse(p, Vector.empty)
              // qualify like fs.listStatus would, so both planning paths
              // yield identical strings (FileStatsCache keys, dedup, tests)
              .map(f => fs.makeQualified(new Path(logPath, f.path)).toString)
            // A covering watermark with NO overlapping file entry is the
            // legitimate committed state AFTER a purge: a compliance
            // delete / expire / full-table DELETE that emptied this id
            // span rewrote the manifest atomically with the log (id gaps
            // are the purge semantic; an emptied partition keeps its
            // watermark) — and every such purge sets the topic's id-gap
            // marker BEFORE readers can observe the hole. On a GAP-FREE
            // topic the same shape is provably divergence (manifest
            // entries lost while the watermark survived, unregistered
            // writer damage), so it fails loudly instead of silently
            // dropping rows from every read surface. A delete-preimage
            // scan (keepOnly) legitimately plans empty off-bounds windows
            // regardless — its `from/until` are vector bounds, not the
            // committed watermark.
            if (files.nonEmpty)
              Some(GraftInputPartition(p, lo, hi, files, deleteFiles,
                deleteKeepOnly, deleteSource = deleteSource,
                excludeRanges = excludedFor(p, lo, hi)))
            else if (deleteKeepOnly || catalog.mayHaveIdGaps(topic)) None
            else throw new java.io.IOException(
              s"topic '$topic' partition $p: manifest watermark covers ids " +
              s"[$lo, $hi) but no chunk file overlaps the span, and the " +
              "topic has no recorded id gaps — manifest entries were lost " +
              "or chunk files were removed by an unregistered writer")
          }.toArray[InputPartition])
        }
      case None => None
    }
    manifestPlan() match {
      case Some(planned) => return planned
      case None =>
    }
    if (!fs.exists(logPath) && !hasCold) {
      // A missing log dir is only legitimate when the id watermark says no
      // events were ever committed. Otherwise fail LOUDLY: silently planning
      // zero slices would let a streaming checkpoint commit past events that
      // were never read (e.g. a reader racing compactTopic's rename window,
      // or an accidentally deleted log) — permanent data loss.
      val expected = (0 until catalog.openTopic(topic).partitions)
        .filter(p => targets.forall(_.contains(p)))
        .exists(p => until(p) > math.max(from(p), 0L))
      if (expected) throw new java.io.IOException(
        s"topic '$topic': log directory missing but the id watermark expects " +
        s"events ($logPath) — log deleted, or read raced a compactTopic swap")
      return Array.empty
    }
    val partDirs: Map[Int, Path] =
      (if (!fs.exists(logPath)) Array.empty[(Int, Path)]
       else fs.listStatus(logPath).filter(_.isDirectory)
        .map(_.getPath)
        .flatMap { dir =>
          dir.getName.split('=') match {
            case Array("partition", p) => Some(p.toInt -> dir)
            case _ => None
          }
        }).toMap
    val allParts = (partDirs.keySet ++ coldSlice.keySet).toSeq.sorted
      .filter(p => targets.forall(_.contains(p)))
    allParts.flatMap { p =>
      val lo = from(p); val hi = until(p)
      if (hi <= lo) None
      else {
        val hot = partDirs.get(p).toSeq.flatMap { dir =>
          fs.listStatus(dir)
            .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
            .map(_.getPath.toString).sorted
            .filter { f =>
              stats.forall { cache =>
                val (fLo, fHi) = cache.range(f, conf)
                fHi >= lo && fLo < hi
              }
            }
        }
        val files = coldFiles(p) ++ hot
        if (files.isEmpty) None
        else Some(GraftInputPartition(p, lo, hi, files, deleteFiles,
          deleteKeepOnly, deleteSource = deleteSource,
          excludeRanges = excludedFor(p, lo, hi)))
      }
    }.sortBy(_.partition).toArray
  }
}

final case class GraftInputPartition(
    partition: Int, fromId: Long, untilId: Long, files: Seq[String],
    deleteFiles: Seq[String] = Nil, deleteKeepOnly: Boolean = false,
    deleteSource: Option[(Long, Long)] = None,
    cdf: Option[CdfSlice] = None,
    excludeRanges: Seq[(Long, Long)] = Nil)
  extends InputPartition
  with org.apache.spark.sql.connector.read.HasPartitionKey {

  /** The read_committed exclusion ranges as parallel sorted arrays —
    * what the readers' per-row check walks (see
    * [[GraftReaderSupport.outsideExcluded]]). */
  def excludeArrays: (Array[Long], Array[Long]) = {
    val sorted = excludeRanges.sortBy(_._1)
    (sorted.map(_._1).toArray, sorted.map(_._2).toArray)
  }
  /** One slice per topic partition, keyed by its partition id — what lets
    * the scan report `KeyGroupedPartitioning(partition)` and Spark plan
    * shuffle-free partition-keyed aggregations and storage-partitioned
    * joins between co-partitioned topics. */
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](partition))
}
