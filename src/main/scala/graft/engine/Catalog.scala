package graft.engine

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/**
 * Filesystem-backed topic catalog — the Spark-side master database
 * (`/root/reference/src/MofkaDriver.cpp:212-257` keys
 * `MOFKA:GLOBAL:<topic>:*`). Uses the Hadoop FileSystem API so the same code
 * addresses local disk, HDFS, or object stores on a real cluster.
 *
 * Layout under the warehouse directory:
 * {{{
 * <warehouse>/<topic>/
 *   _topic.json            TopicConfig (validator/selector/serializer triple,
 *                          partition count, completed flag)
 *   _manifest/             the manifest log: every commit's chunk files and
 *                          per-partition next EventID (see [[readManifest]]);
 *                          `.created` tells a new topic's empty log from a
 *                          lost one
 *   _cursors/<name>.json   per-consumer-name cursor (acknowledge state)
 *   log/partition=<p>/     the event log, Parquet
 * }}}
 *
 * The manifest log is the one id watermark: [[nextIds]] reads its latest
 * entry, and a produce commits by appending one.
 *
 * Small-file updates are atomic (write temp + rename). N producers ingest
 * one topic CONCURRENTLY — where the reference linearizes many clients via
 * a per-partition lock + single write loop (SURVEY §7.3,
 * `DefaultPartitionManager.cpp:391-409`), this catalog uses a
 * reservation-intent protocol (see the "concurrent produce intents"
 * section at [[reserveProduce]]): the `_produce.lock` is held only for the
 * millisecond-length id reservation and the ordered commit, while each
 * producer's data write runs unlocked into a private `log.staging/<id>`
 * dir under a heartbeat-refreshed lease. Commits apply in reservation
 * order (dense gap-free ids); a crashed producer's intent ages out and its
 * range is gap-advanced over. EXCLUSIVE statements (transactional /
 * idempotent produce, SQL MERGE) still hold the lock across their whole
 * span — they enter via [[acquireProduceLockDraining]], which waits out
 * live intents, and racing writers beyond that fail loudly instead of
 * re-issuing ids.
 */
final class Catalog(spark: SparkSession, val warehouse: String) {

  private val fs: FileSystem =
    new Path(warehouse).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Catalog-scoped conf overrides (highest precedence). Engine knobs read
    * through [[conf]] so a fixture/test can pin a knob for ONE warehouse
    * — a session-global `spark.conf.set` would leak into every other
    * catalog evaluated from the same SparkSession (e.g. a janitor horizon
    * of 1ms auto-aborting an unrelated topic's open transactions).
    *
    * Keyed by the QUALIFIED WAREHOUSE PATH in a JVM-wide registry
    * (VERDICT r16 #2), not by the Catalog object: the scope of an
    * override is the TENANT (one warehouse), and the engine freely
    * constructs private Catalog instances over the caller's warehouse —
    * the MERGE commit path, the SQL row-level planner, DSv2 writers. Under
    * per-object scoping those never saw a user catalog's
    * `setConfOverride`, which made `mergeCommitWaitMs` the one knob
    * exempt from catalog scoping; under warehouse keying every instance
    * over the same warehouse reads the same override map, so two tenants
    * in one JVM can hold different MERGE patience too. Reads never insert
    * into the registry — only `setConfOverride` creates an entry. */
  private lazy val overridesKey: String =
    fs.makeQualified(new Path(warehouse)).toString

  def setConfOverride(key: String, value: String): Unit =
    Catalog.warehouseOverrides.computeIfAbsent(overridesKey,
      _ => new java.util.concurrent.ConcurrentHashMap[String, String]())
      .put(key, value): Unit

  def clearConfOverride(key: String): Unit = {
    val m = Catalog.warehouseOverrides.get(overridesKey)
    if (m != null) m.remove(key): Unit
  }

  private def conf(key: String, default: => String): String = {
    val m = Catalog.warehouseOverrides.get(overridesKey)
    val o = if (m == null) null else m.get(key)
    Option(o).getOrElse(spark.conf.get(key, default))
  }

  /** The session's effective Hadoop configuration — snapshot this into any
    * executor-shipped reader so non-default filesystems (s3a, HDFS HA)
    * resolve identically on executors and driver. */
  def hadoopConf: org.apache.hadoop.conf.Configuration =
    spark.sparkContext.hadoopConfiguration

  def topicPath(name: String): Path = new Path(warehouse, name)
  def logPath(name: String): String = new Path(topicPath(name), "log").toString

  // -- DDL (C1-C5) ----------------------------------------------------------

  /** C1 `createTopic` — errors on duplicates; ≤256-char names
    * (`MofkaDriver.cpp:157,260`). */
  def createTopic(config: TopicConfig): Unit = {
    val name = config.name
    require(name.nonEmpty, "Topic name cannot be empty")
    if (name.length > 256)
      throw new IllegalArgumentException("Topic names cannot exceed 256 characters")
    if (!name.matches("[A-Za-z0-9_.-]+"))
      throw new IllegalArgumentException(
        s"Invalid topic name '$name': only [A-Za-z0-9_.-] allowed")
    require(config.partitions > 0, "Topic needs at least one partition")
    // F6/Z1: the whole plugin triple must compile from its descriptors —
    // unknown types are DDL-time errors, not produce-time surprises
    // (`MofkaDriver.cpp:390-395` rejects unknown plugins the same way)
    Validator.fromDescriptor(config.validator)
    PartitionSelector.fromDescriptor(config.selector)
    Serializer.fromDescriptor(config.serializer)
    if (topicExists(name))
      throw new IllegalStateException("Topic already exists")
    // an empty manifest log, marked: nothing committed yet
    FileCreate.touch(fs, createdMarker(name))
    writeTopicConfig(config)
  }

  /** C2 `openTopic` — "not found" on missing (`MofkaDriver.cpp:351-358`).
    * (mtime, length)-keyed parse cache: the streaming planner opens the
    * config every trigger; steady-state cost is one getFileStatus. Config
    * rewrites (addPartition, markAsComplete) change the mtime and refresh
    * the entry. */
  def openTopic(name: String): TopicConfig = {
    val p = new Path(topicPath(name), "_topic.json")
    statResilient(p) match {
      case None => throw new NoSuchElementException(s"""Topic "$name" not found""")
      case Some(st) =>
        val key = (st.getModificationTime, st.getLen)
        val cached = configCache.get(name)
        if (cached != null && cached._1 == key) cached._2
        else {
          val cfg = readStringResilient(p).map(TopicConfig.fromJson).getOrElse(
            throw new NoSuchElementException(s"""Topic "$name" not found"""))
          configCache.put(name, (key, cfg))
          cfg
        }
    }
  }

  /** (mtime, length) keys have millisecond granularity — a same-length
    * rewrite within one ms (e.g. addPartition "2"→"3") would be invisible
    * to the key alone, so every config write by THIS catalog instance also
    * invalidates its entry explicitly (see writeAtomic callers). Cross-
    * process rapid DDL remains covered by the single-writer contract. */
  private val configCache =
    new java.util.concurrent.ConcurrentHashMap[String, ((Long, Long), TopicConfig)]()

  private def writeTopicConfig(config: TopicConfig): Unit = {
    writeAtomic(new Path(topicPath(config.name), "_topic.json"), config.toJson)
    configCache.remove(config.name): Unit
  }

  /** C3 `listTopics`. */
  def listTopics(): Seq[String] = {
    val root = new Path(warehouse)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && fs.exists(new Path(s.getPath, "_topic.json")))
      .map(_.getPath.getName)
      .sorted
  }

  /** C4 `topicExists`. */
  def topicExists(name: String): Boolean =
    fs.exists(new Path(topicPath(name), "_topic.json"))

  /** C5 `addPartition` — grows the partition count by one. */
  def addPartition(name: String): Int = {
    // brief lock: _topic.json is a read-modify-write (see markAsComplete);
    // the new partition's watermark reads 0 until a produce writes it
    acquireProduceLock(name, briefLockWaitMs)
    try {
      val config = openTopic(name)
      val grown = config.copy(partitions = config.partitions + 1)
      writeTopicConfig(grown)
      grown.partitions
    } finally releaseProduceLock(name)
  }

  /** Drop a topic: removes its directory tree (log, manifest, indexes,
    * cursors) and this instance's caches for the name. Refuses while a
    * live produce or compaction holds the topic — deleting under a writer
    * would strand its files mid-commit. (The reference has no topic
    * delete — `MofkaDriver.cpp:151-315` only creates/opens — but a SQL
    * catalog surface needs DROP TABLE, and safe-by-rejection mirrors the
    * produce-lock contract.) */
  def dropTopic(name: String): Unit = {
    if (!topicExists(name))
      throw new NoSuchElementException(s"""Topic "$name" not found""")
    // HOLD the produce lock for the whole delete (not just observe it):
    // a produce starting after a liveness CHECK would have its topic tree
    // deleted out from under its commit. With the lock held, a concurrent
    // produce blocks/fails at acquisition; one that raced ahead of us
    // fails acquisition here instead.
    // brief metadata hold: ride the patience floor so routine
    // contention with concurrent-produce brief sections serializes
    acquireProduceLock(name, briefLockWaitMs)
    try {
      failIfCompacting(name)
      // concurrent produces in flight (live reservation intents): their
      // staging lives inside this tree — deleting it would fail their
      // commits confusingly. Stale intents roll back; fresh ones refuse,
      // the same contract as the live-produce-lock refusal above.
      rollbackStaleIntentsLocked(name): Unit
      val liveIntents = listProduceIntents(name)
      if (liveIntents.nonEmpty) throw new IllegalStateException(
        s"cannot drop topic '$name': concurrent produces are in flight " +
        s"(intents: ${liveIntents.map(_._1).mkString(", ")}) — retry " +
        "after they commit; inspect them via CALL <catalog>.system" +
        s".produce_intents('$name')")
      // dropping a topic with live shallow clones deletes the chunk files
      // they reference — same contract as the rewrite guard
      failIfLiveClones(name, "dropTopic")
      // Dropping a topic that COORDINATES cross-topic transactions would
      // vanish its records — and a missing coordinator record reads as
      // "aborted and purged" everywhere ([[coordState]]), so a COMMITTED
      // transaction's state must be fully resolved before the tree goes.
      // Guarded by the topic's own record listing: no local transaction
      // records ⇒ it never coordinated a live/committed transaction
      // (committed records are permanent, [[removeTxn]]), so the common
      // drop pays zero sibling listings.
      val localTxns = listTxns(name)
      if (localTxns.nonEmpty) {
        // A COMMITTED transaction's cursor floors may still be pending on
        // source topics (the commit's eager apply is best-effort): apply
        // them NOW — after the drop a pointer resolves to "missing ⇒
        // aborted" and would discard committed floors, re-delivering
        // rows the exactly-once loop already processed. Open/aborted
        // transactions' pointers correctly discard. REFUSE the drop
        // (same shape as the open-share guard below) when the floors
        // cannot be applied and re-read as subsumed: proceeding
        // best-effort would delete the only durable copy of committed
        // cursor state — the drop must not outrun its resolution.
        localTxns.foreach { case (id, st) =>
          if (st.state == "committed") st.offsets.groupBy(_.topic).foreach {
            case (srcTopic, os) if topicExists(srcTopic) =>
              val subsumed =
                try {
                  os.foreach(o => acknowledgeFloors(srcTopic, o.consumer, o.floors))
                  floorsSubsumed(srcTopic, os)
                } catch {
                  case scala.util.control.NonFatal(e) =>
                    throw new IllegalStateException(
                      s"cannot drop topic '$name': committed transaction " +
                      s"'$id' has cursor floors on source topic '$srcTopic' " +
                      s"that could not be applied ($e) — dropping now would " +
                      "discard them and re-deliver already-processed rows; " +
                      "fix the source topic's cursor store and retry", e)
                }
              if (!subsumed) throw new IllegalStateException(
                s"cannot drop topic '$name': committed transaction '$id' " +
                s"cursor floors on source topic '$srcTopic' did not read " +
                "back as applied — dropping now would discard them and " +
                "re-deliver already-processed rows; retry once the source " +
                "topic's cursor store is writable")
              fs.delete(txnPointerPath(srcTopic, name, id), false): Unit
            case _ => ()
          }
        }
        // Resolve every sibling topic's outstanding row shares: open →
        // the transaction is live, refuse; committed → fold the share
        // eagerly (its rows are permanently visible, the record serves
        // nothing further); aborted/missing → the missing-record reading
        // is already the correct one. O(topics) listings, paid only on
        // the rare drop of an actual coordinator.
        listTopics().filter(_ != name).foreach { other =>
          listRemoteTxns(other).foreach { case (path, r) =>
            if (r.coordTopic == name) coordState(r) match {
              case Some("open") => throw new IllegalStateException(
                s"cannot drop topic '$name': it coordinates open transaction " +
                s"'${r.txnId}' with rows in topic '$other' — commit or abort " +
                "it first")
              case Some("committed") => removeRemoteTxn(path)
              case _ => () // aborted, or record already purged
            }
          }
        }
      }
      fs.delete(topicPath(name), true): Unit
    } finally {
      // the lock file went with the tree; release tolerates that
      try releaseProduceLock(name) catch { case _: java.io.IOException => () }
    }
    configCache.remove(name)
    recoveredCache.remove(name)
    manifestCache.remove(name): Unit
  }

  /** D5 `markAsComplete` — persisted completion flag; consumers resolve
    * NoMoreEvents once drained (`MofkaConsumer.cpp:117-132`). */
  def markAsComplete(name: String): Unit = {
    // brief lock: _topic.json is a read-modify-write shared with
    // addPartition/alterValidator — an unlocked racing write could drop
    // the completed flag or a partition bump (lost update)
    acquireProduceLock(name, briefLockWaitMs)
    try {
      val config = openTopic(name)
      writeTopicConfig(config.copy(completed = true))
    } finally releaseProduceLock(name)
  }

  // -- producer commit state ------------------------------------------------

  /** Next EventID per partition (dense id assignment base): the latest
    * manifest-log entry's watermark, every configured partition a key (0
    * where none was ever written). While a rewrite's swap has the manifest
    * log moved aside, that copy answers. With no manifest log at all, the
    * watermark is recovered from the log itself — the restart-recovery
    * scan of the reference (`DefaultPartitionManager.cpp:682-735`: rebuild
    * counters from chunk indices; here the Parquet footers are the index). */
  def nextIds(name: String): Map[Int, Long] =
    idsOf(name, Catalog.retryOnRollRace(readManifestOnce(name)))

  /** [[nextIds]] from the manifest the caller just read. */
  private def idsOf(name: String, manifest: Option[TopicManifest]): Map[Int, Long] = {
    val committed = manifest.map(_.watermarks)
      .orElse {
        try assembleManifestLog(asideDir(name), None).map(_.manifest.watermarks)
        // the swap finished and dropped it under our listing
        catch { case _: java.io.FileNotFoundException => None }
      }
      // the swap's rebuild landed between the two reads above
      .orElse(Catalog.retryOnRollRace(readManifestOnce(name)).map(_.watermarks))
    committed.foreach(_ => recoveredCache.remove(name))
    val known =
      try (0 until openTopic(name).partitions).map(_ -> 0L).toMap
      catch { case _: NoSuchElementException => Map.empty[Int, Long] }
    known ++ committed.getOrElse {
      // an entry-less log is a topic nothing was committed to yet only
      // while it holds the marker createTopic made: a commit or rebuild
      // onto a lost log that died before its first entry leaves an
      // unmarked one
      if (fs.exists(createdMarker(name))) Map.empty[Int, Long]
      // memoized while the manifest log stays absent: a consumer-only
      // deployment would otherwise re-run the full log aggregation on
      // every call (the streaming source calls this per trigger)
      else recoveredCache.computeIfAbsent(name, recoverIds(_))
    }
  }

  private val recoveredCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[Int, Long]]()

  /** S10 recovery: `max(event_id)+1` per partition holding data. Compute-
    * only — the next commit's manifest entry persists it (`nextIds` is a
    * read path, called by concurrent readers). */
  private def recoverIds(name: String): Map[Int, Long] =
    // hot ∪ cold: a partition whose files were ALL archived must still
    // recover its real watermark, or ids would be re-issued. Deletion
    // vectors deliberately NOT applied: the watermark is max(id)+1 over
    // everything ever committed — dropping a vector-deleted tail here
    // would regress it and re-issue ids (same caveat as purgeTopic's)
    fullLogDF(name) match {
      case None => Map.empty
      case Some(df) =>
        import org.apache.spark.sql.functions.{col, max}
        df.groupBy(col("partition")).agg(max(col("event_id")).as("m"))
          .collect().map(r => r.getInt(0) -> (r.getLong(1) + 1)).toMap
    }

  // -- chunk-file manifest (scale: O(new files) trigger planning) -----------

  /**
   * Per-partition chunk-file manifest — the engine's analog of the
   * reference's chunk index (`DefaultPartitionManager.cpp:682-735`): every
   * produce commit registers the files it appended together with their
   * `event_id` footer ranges, so streaming-trigger planning reads ONE small
   * JSON file instead of re-listing every partition directory (O(total
   * files) per trigger — the scale killer for a months-long stream over
   * millions of rotated chunks).
   *
   * `watermarks(p)` is the next-EventID the file list is complete up to: a
   * reader may plan from the manifest iff `watermarks(p) >= until(p)`, and
   * must fall back to a directory listing otherwise (manifest lost). The
   * file list itself is a [[ChunkFiles]] list. The entry's write is a
   * produce's COMMIT POINT: its files become visible and its ids issued
   * ([[nextIds]]) in that one write.
   *
   * Metadata scale bound (snapshot + delta log, the Delta-Lake shape): each
   * produce commit APPENDS one `delta-<seq>.json` holding only that
   * produce's new files and advanced watermarks — O(new files), never
   * O(total live files). Every [[Catalog.ManifestSnapshotEvery]] commits the
   * writer rolls a full `snap-<seq>.json` and deletes the folded-in entries,
   * so the log directory stays bounded and a reader assembles the manifest
   * from one snapshot plus at most `ManifestSnapshotEvery` deltas. A topic
   * that never compacts now keeps an O(new files) produce path forever —
   * only the periodic snapshot (amortized 1/ManifestSnapshotEvery per
   * produce) scales with live-file count.
   *
   * Sequence numbers are strictly increasing per topic and NEVER reused
   * (compaction's rebuild also advances the seq), so snapshot/delta files
   * are immutable-by-name — the reader cache keys on names alone. Writers
   * are serialized by the produce/compact locks; readers tolerate a
   * snapshot roll's cleanup racing their listing by re-scanning once and
   * falling back to the directory-listing path (None) rather than crashing
   * a streaming trigger.
   */
  def readManifest(name: String): Option[TopicManifest] =
    // a snapshot roll deleted an entry under our listing: the fresh scan
    // sees the rolled snapshot; a second miss means real trouble — fall
    // back to the listing path rather than crash the trigger
    try Catalog.retryOnRollRace(readManifestOnce(name))
    catch { case _: java.io.FileNotFoundException => None }

  private def readManifestOnce(name: String): Option[TopicManifest] =
    assembleManifestLog(manifestDir(name), Option(manifestCache.get(name))).map { e =>
      manifestCache.put(name, e)
      e.manifest
    }

  /** The manifest log at `dir` (one snapshot plus the deltas after it),
    * None when it has no entry; `cached` is reused while its last entry is
    * still listed unchanged. */
  private def assembleManifestLog(dir: Path, cached: Option[Catalog.ManifestCacheEntry])
      : Option[Catalog.ManifestCacheEntry] = {
    val (snaps, deltas) = scanManifestLogStatuses(dir)
    if (snaps.isEmpty && deltas.isEmpty) None
    else {
      val snapSeq = if (snaps.nonEmpty) snaps.last._1 else -1L
      // entry keys come free from the ONE listing: they validate the cache
      // against drop+recreate aliasing (same path, seqs restarted) — the
      // cached lastSeq entry must still exist with the same (mtime, len)
      val keyBySeq: Map[Long, (Long, Long)] = (snaps ++ deltas)
        .map { case (s, st) => s -> (st.getModificationTime, st.getLen) }.toMap
      // steady-state trigger (no new commits): one listStatus, zero reads
      val (base, baseSeq) = cached match {
        case Some(c) if c.snapSeq == snapSeq && keyBySeq.get(c.lastSeq).contains(c.lastKey) =>
          (c.manifest, c.lastSeq)
        case _ if snaps.nonEmpty =>
          (TopicManifest.fromJson(readString(snaps.last._2.getPath)), snapSeq)
        case _ => (TopicManifest(Map.empty, Map.empty), -1L)
      }
      val todo = deltas.filter(_._1 > math.max(baseSeq, snapSeq))
      val assembled = todo.foldLeft(base) { case (m, (_, st)) =>
        Catalog.applyManifestDelta(m, TopicManifest.fromJson(readString(st.getPath)))
      }
      val lastSeq = (Seq(baseSeq, snapSeq) ++ todo.map(_._1)).max
      Some(Catalog.ManifestCacheEntry(snapSeq, lastSeq, assembled,
        keyBySeq.getOrElse(lastSeq, (-1L, -1L))))
    }
  }

  /** The topic's retained commit history, oldest first — the DESCRIBE
    * HISTORY / time-travel axis. Every manifest-log entry IS a commit
    * (produce, compaction rewrite, expire…), its seq the version number
    * and its `watermarks` the id frontier visible at that commit, so the
    * history is read straight off the log: the retained snapshot carries
    * the full watermark map and each delta merges its changed partitions
    * cumulatively. Retention follows the log's own bound — snapshot rolls
    * fold prior entries, so at most [[Catalog.ManifestSnapshotEvery]]
    * versions back are resolvable (the Delta-Lake retention semantic);
    * asking for an older version fails loudly in [[watermarkAsOf]].
    * O(retained entries) driver work, bounded by ManifestSnapshotEvery + 1
    * — and since log entries are IMMUTABLE BY NAME (seqs are never reused,
    * even across rebuilds), each entry's content is read ONCE per JVM:
    * steady-state calls cost one listing plus reads of new entries only, so
    * the per-trigger history read of a change-feed stream stays O(1)
    * catalog I/O. */
  def versionHistory(name: String): Vector[TopicVersion] = Catalog.retryOnRollRace {
    val (snaps, deltas) = scanManifestLogStatuses(manifestDir(name))
    val entries = (snaps.map { case (s, p) => (s, p, "snapshot") } ++
      deltas.map { case (s, p) => (s, p, "delta") }).sortBy(_._1)
    var wm = Map.empty[Int, Long]
    entries.map { case (seq, st, kind) =>
      val mtime = st.getModificationTime
      // mtime+len in the key: a drop+recreate at the SAME path restarts
      // seqs, and a path-only key would serve the dead topic's entry
      val (delta, note) = Catalog.versionEntryCached(
        s"${st.getPath}@$mtime:${st.getLen}") {
        val m = TopicManifest.fromJson(readString(st.getPath))
        (m.watermarks, m.note)
      }
      wm = if (kind == "snapshot") delta else wm ++ delta
      TopicVersion(seq, kind, mtime, wm, note)
    }
  }

  /** The id watermark pinned by retained commit `version` — the map
    * [[graft.engine.TopicHandle.events(asOf:Map[Int,Long])*]] takes. Loud
    * on a folded-away or future version: silently serving the nearest
    * retained one would hand a training run the wrong corpus. */
  def watermarkAsOf(name: String, version: Long): Map[Int, Long] = {
    val h = versionHistory(name)
    h.find(_.version == version).map(_.watermarks).getOrElse {
      val retained =
        if (h.isEmpty) "none retained" else s"${h.head.version}..${h.last.version}"
      throw new IllegalArgumentException(
        s"topic '$name' has no retained version $version (retained: $retained) — " +
        s"versions are manifest commits, folded into snapshots every " +
        s"${Catalog.ManifestSnapshotEvery} commits")
    }
  }

  /** The newest retained version committed at or before `tsMs` (epoch
    * millis) — TIMESTAMP AS OF resolution. Commit times are the log
    * entries' filesystem mtimes (writers are lock-serialized, so they are
    * monotone per topic). Loud when `tsMs` predates the retained log. */
  def versionAtTimestamp(name: String, tsMs: Long): Long = {
    val h = versionHistory(name)
    h.filter(_.commitTimeMs <= tsMs).lastOption.map(_.version).getOrElse {
      val earliest =
        if (h.isEmpty) "no retained commits"
        else s"earliest retained commit is at ${h.head.commitTimeMs}"
      throw new IllegalArgumentException(
        s"topic '$name' has no commit at or before $tsMs ($earliest)")
    }
  }

  private def manifestDir(name: String): Path = new Path(topicPath(name), "_manifest")

  /** Where a rewrite's swap keeps the manifest log ([[recoverSwapLocked]]). */
  private def asideDir(name: String): Path = new Path(topicPath(name), "_manifest.compact.old")

  /** Made in the manifest log by [[createTopic]]: an entry-less log is a
    * topic nothing was committed to yet only while it holds this. */
  private def createdMarker(name: String): Path = new Path(manifestDir(name), ".created")

  private def seqFileName(prefix: String, seq: Long): String = f"$prefix-$seq%020d.json"

  /** (snapshots, deltas) in the manifest log at `dir`, each (seq, status)
    * seq-ascending. Missing dir → both empty. The listing is O(entries),
    * bounded by ManifestSnapshotEvery + 1 via the snapshot-roll cleanup;
    * entry mtimes/lengths (e.g. [[versionHistory]]'s immutable-entry cache
    * keys) come from it, no per-entry stat. */
  private def scanManifestLogStatuses(dir: Path)
      : (Vector[(Long, org.apache.hadoop.fs.FileStatus)],
         Vector[(Long, org.apache.hadoop.fs.FileStatus)]) = {
    val entries =
      try fs.listStatus(dir).toVector.filter(_.isFile)
      catch { case _: java.io.FileNotFoundException => Vector.empty }
    def bySeq(prefix: String) = entries.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith(prefix + "-") && n.endsWith(".json"))
        n.stripPrefix(prefix + "-").stripSuffix(".json").toLongOption.map(_ -> st)
      else None
    }.sortBy(_._1)
    (bySeq("snap"), bySeq("delta"))
  }

  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[String, Catalog.ManifestCacheEntry]()

  /** Append `delta` to the manifest log (or roll a snapshot when due /
    * bootstrapping). Callers hold the produce or compact lock — writes are
    * serialized, so `max(seq) + 1` is race-free.
    *
    * A snapshot roll stores the assembled file list through
    * [[ChunkFiles.store]]: past [[Catalog.manifestDriverMax]] it becomes a
    * PARQUET relation beside the JSON (which then carries only watermarks +
    * the reference), computed as prior relation ∪ the driver-held delta
    * tail — O(deltas) driver memory. */
  private def commitManifestDelta(name: String, delta: TopicManifest,
                                  assembledPrior: TopicManifest): Unit = {
    val (snaps, deltas) = scanManifestLogStatuses(manifestDir(name))
    val priorSeq = ((snaps ++ deltas).map(_._1) :+ 0L).max
    val seq = priorSeq + 1
    val snapSeq = if (snaps.nonEmpty) snaps.last._1 else -1L
    val due = deltas.count(_._1 > snapSeq) + 1 >= Catalog.ManifestSnapshotEvery
    FileCreate.mkdirs(fs, manifestDir(name))
    val cached = manifestCache.get(name)
    // what a fresh reader assembles after this commit, parsed from the
    // entry as written; None when the prior view is not the cached one
    // assembled through `priorSeq` (the cache is then dropped instead)
    val (entry, entrySnapSeq, view) = if (snaps.isEmpty || due) {
      val json = writeSnapshot(name, seq, Catalog.applyManifestDelta(assembledPrior, delta),
        manifestFilesRel(name, assembledPrior).toSeq)
      // folded in: the old snapshot, its deltas and any superseded parquet
      // relations go
      (snaps ++ deltas).foreach { case (_, st) => fs.delete(st.getPath, false): Unit }
      purgeOldManifestRelations(name, keepSeq = seq)
      (new Path(manifestDir(name), seqFileName("snap", seq)), seq,
        Some(TopicManifest.fromJson(json)))
    } else {
      val p = new Path(manifestDir(name), seqFileName("delta", seq))
      val json = delta.toJson
      writeAtomic(p, json)
      (p, snapSeq,
        if (cached != null && cached.snapSeq == snapSeq && cached.lastSeq == priorSeq &&
            (cached.manifest eq assembledPrior))
          Some(Catalog.applyManifestDelta(assembledPrior, TopicManifest.fromJson(json)))
        else None)
    }
    // keyed by the entry just written, so the next read lists the log and
    // reads nothing; a stale view is never served
    view match {
      case Some(m) =>
        val st = fs.getFileStatus(entry)
        manifestCache.put(name, Catalog.ManifestCacheEntry(entrySnapSeq, seq, m,
          (st.getModificationTime, st.getLen)))
      case None => manifestCache.remove(name)
    }
  }

  /** Write snapshot `seq` of manifest `m`, its file list (∪ `prior`
    * relations) stored through [[ChunkFiles.store]]; returns the JSON
    * written. */
  private def writeSnapshot(name: String, seq: Long, m: TopicManifest,
                            prior: Seq[org.apache.spark.sql.DataFrame]): String = {
    val snap = seqFileName("snap", seq)
    val (files, ref) = ChunkFiles.store(spark, manifestDir(name),
      s"${snap.stripSuffix(".json")}-files.parquet", prior, m.files)
    val json = m.copy(files = files, filesRef = ref).toJson
    writeAtomic(new Path(manifestDir(name), snap), json)
    json
  }

  /** Delete every `snap-*-files.parquet` relation except `keepSeq`'s —
    * snapshot rolls and rebuilds supersede all prior relations at once. */
  private def purgeOldManifestRelations(name: String, keepSeq: Long): Unit = {
    val keep = s"${seqFileName("snap", keepSeq).stripSuffix(".json")}-files.parquet"
    try fs.listStatus(manifestDir(name))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("snap-") &&
        st.getPath.getName.endsWith("-files.parquet") && st.getPath.getName != keep)
      .foreach(st => fs.delete(st.getPath, true): Unit)
    catch { case _: java.io.FileNotFoundException => () }
  }

  /** The snapshot parquet relation `(partition, path, lo, hi)` of a
    * parquet-backed manifest, None for driver-sized topics. NOTE: the live
    * set is this relation PLUS `m.files` (the post-snapshot delta tail). */
  def manifestFilesRel(name: String,
                       m: TopicManifest): Option[org.apache.spark.sql.DataFrame] =
    ChunkFiles.relation(spark, manifestDir(name), m.filesRef)

  /** The live-file universe for index planners: Left = driver-side list
    * (driver-sized manifests, no Spark job), Right = relation
    * `(partition, path, lo, hi)` including the post-snapshot delta tail
    * (parquet-backed manifests — consumers prune it AS A RELATION and
    * collect only kept paths). Throws when the topic has no manifest. */
  def liveFilesUniverse(name: String)
      : Either[Seq[(Int, String)], org.apache.spark.sql.DataFrame] =
    readManifest(name) match {
      case None => throw new IllegalStateException(
        s"topic '$name' has no manifest — produce at least once before indexing")
      case Some(m) => manifestFilesRel(name, m) match {
        case None => Left(m.files.toSeq.flatMap { case (p, fsq) =>
          fsq.map(f => p -> f.path) })
        case Some(rel) =>
          Right(if (m.files.isEmpty) rel
            else rel.unionByName(ChunkFiles.toDF(spark, m.files)))
      }
    }

  /** Per-partition live-file counts without materializing entries: relation
    * counts (one tiny aggregate job) + the driver-held delta tail. Like
    * every relation consumer, retries once through a snapshot roll racing
    * the aggregate (the superseded relation is deleted right after the new
    * state commits), re-reading the manifest so the retry sees the rolled
    * relation. */
  def manifestFileCounts(name: String, m: TopicManifest): Map[Int, Long] = {
    def attempt(man: TopicManifest): Map[Int, Long] = {
      val base: Map[Int, Long] = manifestFilesRel(name, man) match {
        case None => Map.empty
        case Some(rel) =>
          import org.apache.spark.sql.functions.{col, count, lit}
          rel.groupBy(col("partition")).agg(count(lit(1)).as("n"))
            .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      }
      man.files.foldLeft(base) { case (acc, (p, fsq)) =>
        acc + (p -> (acc.getOrElse(p, 0L) + fsq.size))
      }
    }
    try attempt(m) catch {
      case e: Throwable if Catalog.rootIsFnf(e) =>
        attempt(readManifest(name).getOrElse(m))
    }
  }

  /**
   * Register a commit and advance the manifest watermark to `newNext`
   * (onto a missing manifest log, also to the recovered one of every
   * partition with data that `newNext` skips).
   *
   * A produce commit brings its own files' id ranges (`produced`, the
   * write tasks' reports), so none of its fresh chunks has its footer read.
   * When the prior manifest exists and its watermark on every written
   * partition already reaches the produce's first id there (so it is at
   * least the pre-commit id watermark), the commit registers exactly
   * `produced` and lists no directory: O(new files) however long the log
   * is. That is sound because of the log's invariant: a chunk file sits in
   * `log/` without a manifest entry only while a durable crash marker
   * covers it — a concurrent produce's intent record, whose reserved range
   * holds the file's ids, or a lock-held produce's `log.staging/held-*`
   * dir — and whoever finds the marker purges the file before the marker
   * goes ([[rollbackProduceIntentLocked]], [[purgeAtEntryLocked]]). So no
   * unknown file can be waiting for this commit to adopt it.
   *
   * Every other commit diffs each partition of `newNext` against the
   * manifest's known files and registers the unknown ones: a produce over
   * a decided-dead gap or onto a missing manifest, and every
   * non-produce caller (delete-vector version bumps). Any unknown file
   * that is not the produce's own gets its footer read once (on
   * [[Catalog.footerRanges]]' I/O pool) — the HEAL of partitions whose
   * manifest fell behind the on-disk state.
   *
   * @param excludeGap per-partition `[lo, hi)` id interval whose unknown
    *        files must NOT be adopted — a concurrent produce's commit
    *        passes its decided-dead gap [pre-commit watermark,
    *        reservation start): an unknown file there can only be a
    *        rolled-back commit's debris (the same commit purges them —
    *        this exclusion covers the purge-to-adoption race), never
    *        committed data. Unknown files BELOW the watermark keep the
    *        heal behavior (pre-manifest topics, lost manifests).
    * @param produced the committing produce's own chunks, already moved
    *        into the log, with the id ranges its write tasks reported. */
  def updateManifest(name: String, newNext: Map[Int, Long],
                     note: Option[String] = None,
                     excludeGap: Map[Int, (Long, Long)] = Map.empty,
                     produced: Seq[ChunkReport] = Nil): Unit = {
    val priorOpt = readManifest(name)
    val prior = priorOpt.getOrElse(TopicManifest(Map.empty, Map.empty))
    val next = if (priorOpt.isDefined) newNext
      else nextIds(name).filter(_._2 > 0L) ++ newNext
    val reported: Map[String, Option[(Long, Long)]] =
      produced.map(c => c.rel -> Some((c.first, c.last))).toMap
    val firstIds: Map[Int, Long] =
      produced.groupBy(_.partition).view.mapValues(_.map(_.first).min).toMap
    val complete = priorOpt.isDefined && produced.nonEmpty && newNext.keys.forall(p =>
      firstIds.get(p).exists(prior.watermarks.getOrElse(p, 0L) >= _))
    // unknown = listed ∖ manifest (normally exactly this produce's output),
    // plus the reported files themselves, so a listing that lags the moves
    // can never drop one
    val unknown: Seq[(Int, String)] =
      ((if (complete) Nil else unlistedChunkFiles(name, prior, next.keys)) ++
        produced.map(c => c.partition -> c.rel)).distinct
    val unreported = unknown.map(_._2).filterNot(reported.contains)
    val idRanges: Map[String, Option[(Long, Long)]] = reported ++
      Catalog.footerRanges(unreported.map(new Path(logPath(name), _)), hadoopConf)
        .zip(unreported).map { case (range, rel) => rel -> range }
    val freshFiles: Map[Int, Vector[ManifestFile]] = unknown.groupBy(_._1)
      .view.map { case (p, xs) =>
        // NEVER adopt a file whose ids start at/above the committed
        // watermark: its ids were never allocated, so it can only be a
        // crashed produce's orphan (purgeUncommitted's target). Adopting
        // it would shield it from the purge and let the next produce
        // re-issue its ids — duplicate (partition, event_id) rows. This
        // matters for non-produce committers (deleteWhereVectored's
        // version bump) where no purge precedes the commit; a produce's
        // own files always lie below its newNext.
        // An unknown file with a STRUCTURALLY corrupt footer (fileIdRangeOpt
        // None — torn, not merely stats-less) is NEVER adopted: it cannot
        // be this produce's output (staged parquet always has a readable
        // footer). On a partition committing over a decided-dead gap,
        // adopting would resurrect torn gap debris that
        // [[purgeGapOrphans]]'s quarantine raced. OFF-gap (ADVICE r16) the
        // same bytes are crashed-writer debris too — pre-r17 they were
        // enshrined in the manifest under the never-prune sentinel,
        // permanently shielded from every purge while still breaking topic
        // scans (Spark errors on the bad magic). A manifest-backed topic
        // quarantines them (dot-prefixed rename, purgeGapOrphans'
        // discipline: invisible to listings, un-adoptable, bytes kept); a
        // pre-manifest topic only warns and skips — its unknown set spans
        // ALL files, so a torn one could be committed data mid-heal, the
        // same ambiguity that makes purgeGapOrphans leave torn files alone
        // there. Skipping is NOT silent omission on that path: batch reads
        // are log-dir-listing based, and the skipped file stays in the
        // listing, so scans keep failing loudly on its bad magic until an
        // operator decides. Readable stats-less files keep the heal
        // behavior everywhere (valid data, never debris).
        p -> xs.map(_._2).sorted.flatMap { rel =>
          idRanges(rel) match {
            case None =>
              if (!excludeGap.contains(p)) {
                if (priorOpt.isDefined)
                  quarantineTorn(name, new Path(logPath(name), rel), "at manifest update")
                else
                  Catalog.log.warn(s"topic '$name': torn chunk $rel on " +
                    "pre-manifest topic — not adopted into the healed manifest")
              }
              None
            case Some((lo, hi)) =>
              if (lo != Long.MinValue && (lo >= next.getOrElse(p, 0L) ||
                  excludeGap.get(p).exists { case (glo, ghi) =>
                    lo >= glo && lo < ghi })) None
              else Some(ManifestFile(rel, lo, hi))
          }
        }.toVector
      }.filter(_._2.nonEmpty).toMap
    // the delta carries ONLY this commit's files + watermarks — the
    // produce-path write is O(new files) regardless of live-file count
    commitManifestDelta(name, TopicManifest(next, freshFiles, None, note), prior)
  }

  /**
   * Crash hygiene: delete chunk files that are not in the manifest AND
   * whose footer id range starts at or above the committed watermark. Such
   * files can only be the output of a produce that died between moving its
   * chunks into the log and its manifest entry — leaving them would let a
   * later produce assign the same ids again, putting duplicate
   * (partition, event_id) rows in the log. On a manifest-backed topic an
   * unknown file with a structurally corrupt footer is quarantined, as a
   * listing commit of [[updateManifest]] would. Lists every partition
   * directory, so no produce runs it in steady state: the log's invariant
   * (see [[updateManifest]]) confines such files to the ranges of crash
   * markers, and the purge runs only where a marker, or a catalog that
   * has not yet seen the topic, says it is needed ([[purgeAtEntryLocked]];
   * an intent's own ranges at its rollback). Archiving runs it too.
   */
  def purgeUncommitted(name: String): Unit = purgeUncommitted(name, nextIds(name))

  private def purgeUncommitted(name: String, wm: Map[Int, Long]): Unit =
    purgeUnregistered(name, wm.keys)((p, lo) => lo >= wm.getOrElse(p, 0L))

  /** Deletes the unregistered chunk files of `partitions` whose first id
    * `lo` satisfies `doomed(partition, lo)` (without a manifest every file
    * is unregistered; `doomed` then carries the whole judgment), and
    * quarantines unregistered torn ones on a manifest-backed topic.
    * Idempotent: a crash inside it just repeats it. */
  private def purgeUnregistered(name: String, partitions: Iterable[Int])(
      doomed: (Int, Long) => Boolean): Unit = {
    val conf = hadoopConf
    val manifest = readManifest(name)
    unlistedChunkFiles(name, manifest.getOrElse(TopicManifest(Map.empty, Map.empty)), partitions)
      .foreach { case (p, rel) =>
        val f = new Path(logPath(name), rel)
        Catalog.fileIdRangeOpt(f, conf) match {
          case Some((lo, _)) if lo != Long.MinValue && doomed(p, lo) => fs.delete(f, false): Unit
          case None if manifest.isDefined => quarantineTorn(name, f, "at crash recovery")
          case _ => ()
        }
      }
  }

  /** Rename an unknown chunk with a structurally corrupt footer to its
    * dot-prefixed quarantine name (invisible to listings, un-adoptable,
    * bytes kept). */
  private def quarantineTorn(name: String, f: Path, where: String): Unit =
    if (fs.rename(f, new Path(f.getParent, s".${f.getName}.quarantined")))
      Catalog.log.warn(s"topic '$name': quarantined torn chunk $f $where " +
        "(structurally corrupt footer — crashed-writer debris, never adopted)")
    else
      Catalog.log.warn(s"topic '$name': torn chunk $f could not be " +
        "quarantined — left unlisted, not adopted")

  /** Chunk files present on disk but absent from the manifest — the ONE
    * "listed ∖ manifest" diff shared by a listing [[updateManifest]], the
    * crash purges ([[purgeUncommitted]], an intent's rollback, the gap
    * purge) and the vacuum chunk pass. Driver-
    * sized manifests diff against the in-memory map; parquet-backed ones
    * anti-join the relation in Spark, so only the (few) unknown names come
    * back to the driver — the listing itself is per-partition transient. */
  private def unlistedChunkFiles(name: String, m: TopicManifest,
                                 partitions: Iterable[Int]): Seq[(Int, String)] =
    unregistered(name, m, partitions.toSeq.sorted.flatMap { p =>
      val dir = new Path(logPath(name), s"partition=$p")
      if (!fs.exists(dir)) Nil
      else fs.listStatus(dir)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .map(f => p -> s"partition=$p/${f.getPath.getName}").toSeq
    })

  /** The entries of `listed` (partition, `partition=p/name`) that `m` does
    * not register. */
  private def unregistered(name: String, m: TopicManifest,
                           listed: Seq[(Int, String)]): Seq[(Int, String)] =
    manifestFilesRel(name, m) match {
      case None =>
        val known = m.files.view.mapValues(_.map(_.path).toSet).toMap
        listed.filterNot { case (p, rel) =>
          known.getOrElse(p, Set.empty).contains(rel)
        }
      case Some(rel) =>
        import spark.implicits._
        import org.apache.spark.sql.functions.col
        val tailNames = m.files.valuesIterator.flatten.map(_.path).toSet
        val candidates = listed.filterNot { case (_, r) => tailNames.contains(r) }
        if (candidates.isEmpty) Nil
        else candidates.toDF("partition", "path")
          .join(rel.select(col("path")), Seq("path"), "left_anti")
          .collect().map(r => (r.getAs[Int]("partition"), r.getAs[String]("path"))).toSeq
    }

  /** Rebuild the manifest wholesale from the log (compaction replaced every
    * file; a fresh listing + footer pass is cheap relative to the rewrite).
    * Writes one fresh snapshot at a seq ABOVE everything prior — seqs are
    * never reused, so reader caches keyed on names can't serve the
    * pre-compaction file list — and clears the folded-in entries. Past the
    * driver threshold the rebuilt list goes straight to a relation
    * ([[ChunkFiles.store]]); the listing is transient — nothing O(files)
    * survives in the JSON or the cache.
    *
    * @param minSeq floor for the rebuilt snapshot's seq — callers that
    *        moved the manifest log aside before rebuilding (the compaction
    *        swap) pass the aside's max so commit versions stay strictly
    *        increasing across the rewrite: a version number handed out
    *        before the compaction must fold away loudly, never silently
    *        alias the rebuilt snapshot ([[watermarkAsOf]]). */
  def rebuildManifest(name: String, minSeq: Long = 0L): Unit = {
    val log = new Path(logPath(name))
    val conf = hadoopConf
    val next = nextIds(name)
    val files: Map[Int, Vector[ManifestFile]] =
      if (!fs.exists(log)) Map.empty
      else fs.listStatus(log).filter(_.isDirectory).flatMap { d =>
        d.getPath.getName.split('=') match {
          case Array("partition", p) =>
            val entries = fs.listStatus(d.getPath)
              .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
              .map(f => s"partition=$p/${f.getPath.getName}").sorted
              .map { rel =>
                val (lo, hi) = Catalog.fileIdRange(new Path(log, rel), conf)
                ManifestFile(rel, lo, hi)
              }.toVector
            Some(p.toInt -> entries)
          case _ => None
        }
      }.toMap
    val (snaps, deltas) = scanManifestLogStatuses(manifestDir(name))
    val seq = ((snaps ++ deltas).map(_._1) :+ minSeq).max + 1
    FileCreate.mkdirs(fs, manifestDir(name))
    writeSnapshot(name, seq, TopicManifest(next, files), Nil): Unit
    (snaps ++ deltas).foreach { case (_, st) => fs.delete(st.getPath, false): Unit }
    purgeOldManifestRelations(name, keepSeq = seq)
    manifestCache.remove(name): Unit
  }

  // -- topic locks: compaction + produce mutual exclusion --------------------

  private def compactLockPath(name: String): Path =
    new Path(topicPath(name), "_compact.lock")
  private def produceLockPath(name: String): Path =
    new Path(topicPath(name), "_produce.lock")

  /** Lock age in ms, None when absent. FNF between exists and stat means
    * the lock was released that instant — treat as absent, never crash the
    * caller on the race. */
  private def lockAge(p: Path): Option[Long] = {
    try {
      if (!fs.exists(p)) None
      else Some(System.currentTimeMillis() - fs.getFileStatus(p).getModificationTime)
    } catch { case _: java.io.FileNotFoundException => None }
  }

  private def lockIsLive(p: Path): Option[Long] =
    lockAge(p).filter(_ < Catalog.CompactLockStaleMs)

  /**
   * Acquire a lock: same-JVM arbitration through [[Catalog.heldLocks]]
   * (`putIfAbsent` — EXACT mutual exclusion for concurrent producers in one
   * process, the common thread-pool case), then a lock file through
   * [[Catalog.createLockFileArbitrated]] — the cross-process half, exact
   * on kernel- or namenode-arbitrated stores (O_EXCL for `file:`, atomic
   * create-exclusive on HDFS) and nonce-read-back-verified on
   * check-then-put object stores (s3a posture: two racing creates can
   * BOTH succeed there, so the winner is decided by whose payload
   * survived). Together they are the write-queue linearization point the
   * reference gets from its per-partition lock
   * (`DefaultPartitionManager.cpp:398-409`), reduced to
   * fail-loudly-by-rejection.
   *
   * Same-JVM contention is decided by owner-thread LIVENESS, not age: a
   * lock held by a live thread is held, full stop — an operation running
   * longer than the staleness horizon keeps its exclusion (the heartbeat
   * below keeps the file fresh for cross-process observers too). A dead
   * owner thread can never release, so reclaiming its entry via CAS is
   * exact — no interleaving can drop a LIVE owner's exclusion.
   *
   * A lock FILE older than [[Catalog.CompactLockStaleMs]] that is not
   * being heartbeat-refreshed is a crashed process's leftover: reclaimed
   * through [[reclaimStaleLock]]'s claim-file protocol (serialized — see
   * its doc for why a bare delete would be a corruption window) and
   * retried ONCE — losing the retry means a live contender took it. An
   * ABSENT file after a failed create (the owner released in between) is
   * retried WITHOUT reclaiming: a delete there could destroy a lock a
   * third contender created in the same instant.
   *
   * While held, a daemon heartbeat refreshes the file's mtime every
   * `CompactLockStaleMs / 3`, so a legitimately long produce/compaction is
   * never mistaken for a crash by another process.
   */
  private def acquireLock(p: Path, alreadyHeld: Long => String): Unit = {
    val key = p.toString
    val mine = Catalog.LockOwner(Thread.currentThread(), System.currentTimeMillis())
    val prev = Catalog.heldLocks.putIfAbsent(key, mine)
    if (prev != null) {
      if (prev.thread.isAlive)
        throw new LockConflictException(alreadyHeld(mine.since - prev.since))
      // owner thread died without release: exact, race-free reclaim via CAS
      if (!Catalog.heldLocks.replace(key, prev, mine))
        throw new LockConflictException(alreadyHeld(0L))
    }
    def tryCreate(): Boolean =
      Catalog.createLockFileArbitrated(fs, p, lockVerifyDelayMs)
    var ok = false
    try {
      if (!tryCreate()) {
        lockAge(p) match {
          case Some(age) if age < Catalog.CompactLockStaleMs =>
            throw new LockConflictException(alreadyHeld(age))
          case Some(_) => // genuinely stale: a crashed process's leftover
            reclaimStaleLock(p, alreadyHeld)
            if (!tryCreate())
              throw new LockConflictException(alreadyHeld(0L))
          case None => // released this instant: path is free — plain retry
            if (!tryCreate())
              throw new LockConflictException(alreadyHeld(0L))
        }
      }
      Catalog.startLockHeartbeat(fs, p, heartbeatForceWriteRefresh)
      ok = true
    } finally if (!ok) Catalog.heldLocks.remove(key, mine): Unit
  }

  /**
   * Serialized reclamation of a stale lock file. The naive form — every
   * contender deletes the stale file and re-creates — has a corruption
   * window: two contenders both classify the file stale, the faster one
   * deletes and creates a FRESH lock, and the slower one's delete then
   * removes that fresh lock — both proceed, and the mutual exclusion the
   * lock exists for silently vanishes. Reclamation therefore goes through
   * a claim file (`<lock>.reclaim`, create-exclusive): only the claim
   * holder may delete the stale lock, and a fresh lock can only be created
   * AFTER the stale file is gone — so under the claim, the delete provably
   * only ever removes the stale file, never a live one. Contenders that
   * lose the claim race fail loudly (the claim winner is about to take the
   * lock). A crashed reclaimer's claim is itself aged out by the next
   * contender.
   *
   * The claim create runs through [[Catalog.createLockFileArbitrated]] —
   * ONE implementation of the store-posture dispatch (O_EXCL on `file:`,
   * create-exclusive on HDFS, create-then-nonce-read-back on
   * check-then-put stores) shared with the lock create itself, so `won`
   * means the claim is provably OURS on every posture. That ownership
   * proof is what makes the `finally` delete sound: a contender that
   * LOST the read-back never deletes (pre-r17 its finally could remove
   * the WINNER's claim on a check-then-put store, re-opening the
   * double-reclaim window this protocol exists to close — a loser's
   * orphaned payload, or a claim stranded by a crashed winner, instead
   * ages out through the stale-claim branch below).
   */
  private[engine] def reclaimStaleLock(p: Path, alreadyHeld: Long => String): Unit = {
    val claim = new Path(p.getParent, p.getName + ".reclaim")
    val won = Catalog.createLockFileArbitrated(fs, claim, lockVerifyDelayMs)
    if (!won) {
      // another contender holds the claim and will take the lock — unless
      // ITS owner crashed too: clear a stale claim so the NEXT attempt
      // proceeds, but still fail this one loudly.
      if (lockAge(claim).exists(_ >= Catalog.CompactLockStaleMs))
        fs.delete(claim, false): Unit
      throw new LockConflictException(alreadyHeld(0L))
    }
    try {
      lockAge(p) match {
        case Some(age) if age < Catalog.CompactLockStaleMs =>
          // revived under us (owner heartbeat landed between the caller's
          // staleness check and our claim) — the lock is live, back off
          throw new LockConflictException(alreadyHeld(age))
        case Some(_) => fs.delete(p, false): Unit
        case None => () // owner released meanwhile — path is free either way
      }
    } finally fs.delete(claim, false): Unit // ours by the proof above
  }

  private def releaseLock(p: Path): Unit = {
    val key = p.toString
    val o = Catalog.heldLocks.get(key)
    // only the owning thread may release: a release from a non-owner
    // (possible only through misuse, or after a dead-owner reclaim handed
    // the lock to someone else) must not delete a live owner's file
    if (o != null && (o.thread ne Thread.currentThread()) && o.thread.isAlive)
      return
    // stopLockHeartbeat QUIESCES (it takes the beat gate), so from here on
    // no in-flight beat can re-create the file after our delete — a
    // released lock can never be resurrected into a phantom that wedges
    // the topic for the staleness horizon. Registry entry still goes
    // BEFORE the file delete (probe-spec'd): same-JVM observers must
    // never see "file gone, entry held", which would read as a live
    // owner without a lock.
    Catalog.stopLockHeartbeat(key)
    if (o != null) Catalog.heldLocks.remove(key, o): Unit
    fs.delete(p, false): Unit
  }

  private[engine] def acquireCompactLock(name: String): Unit = {
    // ACQUIRE the compact lock first, THEN check for an in-flight produce
    // (maintenance must not swap the log under one — its files would land
    // in the moved-aside copy, silent loss on both sides). Both sides
    // acquire-then-check — produce checks the compact lock only after
    // holding the produce lock — so the interleaving where each checks
    // before the other acquires cannot let both proceed: one of the two
    // checks necessarily happens after the other side's acquire.
    acquireLock(compactLockPath(name), age =>
      s"topic '$name': a compaction is already in progress (lock " +
      s"${compactLockPath(name)}, age ${age / 1000}s) — inspect the holder " +
      s"via CALL <catalog>.system.locks('$name') and retry after it " +
      "finishes (a crashed compactor's lock is reclaimed automatically " +
      "after the staleness horizon)")
    // ONE deliberate composition is exempt from both produce-side checks
    // below: merge recovery rolls a crashed MERGE's vector delete forward
    // while still holding the produce lock it reconciles under
    // (reconcileMergeState sets the flag, and only around that call). The
    // hazards these checks guard — a maintenance swap under an in-flight
    // produce, or under in-flight concurrent commits — cannot apply to the
    // thread that owns the produce lock on purpose (no intent commit can
    // run while it is held); any OTHER same-thread nesting stays a loud
    // refusal.
    val produceOwner = Catalog.heldLocks.get(produceLockPath(name).toString)
    val recoveryComposition = Catalog.mergeRecoveryInProgress.get() &&
      produceOwner != null && (produceOwner.thread eq Thread.currentThread())
    // a FRESH concurrent-produce intent (local-clock judged — conservative:
    // a clock ahead of the store only under-protects, and the committer's
    // failIfCompacting still refuses loudly) blocks maintenance the same
    // way a held produce lock does: a rewrite mid-ingest would fail every
    // in-flight commit, and a vector delete's manifest version bump could
    // race an intent commit's delta. Stale intents don't block — they are
    // debris whose staging lives outside the log.
    if (!recoveryComposition) {
      val timeout = produceIntentTimeoutMs
      val localNow = localNowMs
      val intents = listProduceIntents(name)
      // same two-step store-clock judgment as every other lease: a local
      // clock ahead of the store must not classify a live, heartbeating
      // ingest fleet as stale and rewrite the log under it
      lazy val storeNow = storeNowMs(intentsDir(name))
      val fresh = intents.filter { case (_, _, m) =>
        localNow - m <= timeout || storeNow - m <= timeout }
      if (fresh.nonEmpty) {
        releaseCompactLock(name)
        throw new LockConflictException(
          s"topic '$name': cannot compact while concurrent produces are " +
          s"in flight (intents: ${fresh.map(_._1).mkString(", ")})")
      }
    }
    lockIsLive(produceLockPath(name)).foreach { age =>
      if (!recoveryComposition) {
        releaseCompactLock(name)
        throw new LockConflictException(
          s"topic '$name': cannot compact while a produce is in flight (lock " +
          s"${produceLockPath(name)}, age ${age / 1000}s)")
      }
    }
  }

  private[engine] def releaseCompactLock(name: String): Unit =
    releaseLock(compactLockPath(name))

  /**
   * Cross-process produce mutual exclusion: the reference serves many client
   * producers at once because a server-side write queue linearizes id
   * assignment; this engine's producer commit is a read-modify-write of
   * the watermark, so a SECOND producer process racing it would re-issue
   * ids (duplicate (partition, event_id) rows — corruption, not an error).
   * The produce lock makes concurrent produce safe-by-rejection: one wins,
   * the other throws. Held for the duration of purge→write→commit;
   * released in the producer's `finally`. A crashed producer's lock is
   * reclaimed after [[Catalog.CompactLockStaleMs]] (its moved-but-
   * unregistered chunk files are purged at the next entry that finds its
   * crash marker — see [[updateManifest]]).
   */
  private[engine] def acquireProduceLock(name: String): Unit =
    acquireProduceLock(name, 0L)

  /** @param minWaitMs patience floor — the BRIEF lock sections of the
    *        concurrent-produce protocol (reservation, ordered commit)
    *        pass one so routine contention with other brief sections
    *        serializes out of the box even with `ProduceLockWaitMs = 0`
    *        (whose rejection contract targets statement-length holds). */
  private[engine] def acquireProduceLock(name: String, minWaitMs: Long): Unit = {
    // With ProduceLockWaitMs > 0, contention SERIALIZES (bounded wait +
    // retry — the cooperative analog of the reference's write queue, where
    // concurrent clients block until the queue drains) instead of failing
    // fast. 0 keeps safe-by-rejection: one produce wins, the other throws.
    val deadline = System.currentTimeMillis() +
      math.max(produceLockWaitMs, minWaitMs)
    while (true) {
      try {
        acquireLock(produceLockPath(name), age =>
          s"topic '$name': another produce is already in progress (lock " +
          s"${produceLockPath(name)}, age ${age / 1000}s) — concurrent producers " +
          "on one topic must be serialized (single-writer contract); inspect the " +
          s"holder via CALL <catalog>.system.locks('$name'), retry after it " +
          "finishes, or set spark.graft.produce.lockWaitMs to wait (a crashed " +
          "holder's lock is reclaimed automatically after the staleness horizon)")
        return
      } catch {
        case e: LockConflictException =>
          if (System.currentTimeMillis() >= deadline) throw e
          Thread.sleep(50L)
      }
    }
  }

  private[engine] def releaseProduceLock(name: String): Unit =
    releaseLock(produceLockPath(name))

  /** Producer-side guard: refuse to append while a live compaction holds the
    * topic (a produce racing the swap window would land files in the
    * moved-aside log — silent data loss). */
  private[engine] def failIfCompacting(name: String): Unit =
    lockIsLive(compactLockPath(name)).foreach { age =>
      throw new LockConflictException(
        s"topic '$name': cannot produce while compaction is in progress " +
        s"(lock ${compactLockPath(name)}, age ${age / 1000}s) — inspect " +
        s"the holder via CALL <catalog>.system.locks('$name')")
    }

  /** Is another process's produce lock live on this topic? (A probe, not
    * a guard — see [[MergeCommit]]'s phase-2 retry loop.) */
  private[engine] def produceInFlight(name: String): Boolean =
    lockIsLive(produceLockPath(name)).isDefined

  // -- log maintenance ------------------------------------------------------

  /**
   * Compact a topic's log: rewrite each partition's chunk files into files
   * of up to `chunkMaxRecords` events, preserving every event and its id.
   * Streaming producers append at least one file per partition per
   * micro-batch, so a long-lived topic accumulates small files — the
   * classic log-store failure mode at scale (listing/open overhead dwarfs
   * the data). One job rewrites the log with one shuffle (by partition)
   * and per-file id ordering identical to fresh produce output.
   *
   * Maintenance-window operation under the catalog's single-writer
   * contract: must not run concurrently with produces OR reads of this
   * topic — a reader racing the swap window fails loudly (plan-time check
   * against the id watermark), never silently skips. The swap is
   * rename-based — atomic on HDFS/local filesystems, the same documented
   * caveat as the catalog's other metadata writes on object stores without
   * atomic rename. A crash mid-swap is recovered on the next call (the
   * moved-aside log is restored before anything is deleted).
   */
  def compactTopic(name: String, chunkMaxRecords: Long = 1000000L): Unit = {
    acquireCompactLock(name)
    try rewriteLocked(name, chunkMaxRecords, identity)
    finally releaseCompactLock(name)
  }

  /**
   * Retention expiry: rewrite the log keeping only events with
   * `event_id >= beforeId` (every partition; Kafka's delete-retention
   * analog by offset rather than time). Retained events keep their ids —
   * the id space simply starts later — and the produce watermark is
   * untouched, so new produces continue the sequence. A consumer whose
   * cursor points below the cutoff resumes at the earliest retained event
   * (Kafka "earliest available" semantics). Same maintenance-window
   * contract, lock, crash-safe swap, and manifest rebuild as
   * [[compactTopic]].
   */
  def expireTopic(name: String, beforeId: Long,
                  chunkMaxRecords: Long = 1000000L): Unit = {
    import org.apache.spark.sql.functions.col
    acquireCompactLock(name)
    try { markIdGaps(name); rewriteLocked(name, chunkMaxRecords, _.filter(col("event_id") >= beforeId)) }
    finally releaseCompactLock(name)
  }

  /** Conservative id-gap marker: every operation that can remove committed
    * rows below the watermark (expire, compliance delete, key compaction,
    * restore) sets it BEFORE rewriting and it is never cleared — so
    * "marker absent" PROVES per-partition ids are dense `[0, watermark)`,
    * the invariant that lets [[graft.streaming.GraftAggScan]] answer
    * COUNT/MIN/MAX(event_id) as O(1) watermark arithmetic instead of a
    * scan. Conservative by design: a delete that matched nothing still
    * marks (the alternative — recounting the log to clear it — is exactly
    * the scan the marker exists to avoid; a compaction could re-certify
    * density, but none does today). */
  private def gapsPath(name: String): Path = new Path(topicPath(name), "_gaps.json")

  private[engine] def markIdGaps(name: String): Unit =
    if (!fs.exists(gapsPath(name))) writeAtomic(gapsPath(name), """{"gaps":true}""")

  /** False PROVES dense ids (see [[markIdGaps]]); true only means some
    * row-dropping op ran at some point. */
  def mayHaveIdGaps(name: String): Boolean = fs.exists(gapsPath(name))

  /**
   * Compliance delete (GDPR-style): rewrite the log dropping every event
   * matching `cond` (a predicate over the event columns — metadata,
   * data, event_id, partition). Unlike [[expireTopic]] this can leave GAPS
   * in the id sequence — that is the point of deletion; readers and
   * cursors tolerate gaps (consumption is `event_id >= cursor`, never
   * rank-based). The produce watermark is untouched. CAVEAT: while the
   * manifest log is lost, [[nextIds]] recovers the watermark as max(id)+1
   * from the log, so a tail this purge dropped would regress it and
   * re-issue ids (the rewrite rebuilds a lost log before it drops
   * anything). Same lock/swap/manifest contract as [[compactTopic]].
   */
  def purgeTopic(name: String, cond: org.apache.spark.sql.Column,
                 chunkMaxRecords: Long = 1000000L): Unit = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    acquireCompactLock(name)
    // keep = NOT(coalesce(cond, false)): under SQL three-valued logic a
    // predicate that evaluates to NULL (e.g. get_json_object on events
    // lacking the field) would make !cond NULL too and silently DELETE the
    // row — only rows where cond is definitively TRUE may be purged.
    try { markIdGaps(name); rewriteLocked(name, chunkMaxRecords, _.filter(!coalesce(cond, lit(false)))) }
    finally releaseCompactLock(name)
  }

  // -- deletion vectors (merge-on-read compliance delete) --------------------

  private def deletesDir(name: String): Path = new Path(topicPath(name), "_deletes")

  /** Committed delete-vector relations (parquet directories under
    * `_deletes/`), sorted by name. Staged `tmp-`/`txn-` writes, roots a
    * fold already superseded (`_folded` marker — kept on disk until vacuum
    * so in-flight plans that referenced them by path stay readable), and
    * roots GATED behind an undecided transaction (`_txn` marker — see
    * [[stageTxnDelete]]) are never listed. */
  def deleteVectorFiles(name: String): Seq[String] =
    vectorRootInventory(name)._1

  /**
   * One `_deletes/` listing serving every consumer: committed-VISIBLE
   * roots (sorted — what [[deleteVectorFiles]] returns) plus the
   * transaction-GATED roots with their gate states (what the CDF frontier
   * holdback and the conflict check consult). The per-root sub-listing
   * replaces the old per-root `_folded` exists() probe at the same IO
   * cost (one call per root) and answers both markers at once.
   *
   * Gate resolution is the ATOMIC-VISIBILITY read side: a root whose
   * `_txn` marker names a COMMITTED transaction is visible (its marker is
   * then lazily removed so later listings skip the state read — safe, the
   * state is terminal and Spark's file index ignores `_`-prefixed files);
   * open or aborted keeps it invisible. A marker naming a MISSING
   * transaction record is crash debris of a purged ABORT (committed
   * records are never removed — see [[removeTxn]]) and stays invisible
   * until vacuum reaps it.
   */
  private[engine] def vectorRootInventory(
      name: String): (Seq[String], Seq[(String, Catalog.VectorGate)]) = {
    Catalog.deletesListings.incrementAndGet(): Unit
    val dir = deletesDir(name)
    if (!fs.exists(dir)) return (Seq.empty, Seq.empty)
    val visible = Vector.newBuilder[String]
    val gated = Vector.newBuilder[(String, Catalog.VectorGate)]
    fs.listStatus(dir)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("d-"))
      .foreach { s =>
        val entries = fs.listStatus(s.getPath).map(_.getPath.getName).toSet
        if (!entries.contains(Catalog.FoldedMarker)) {
          if (!entries.contains(Catalog.TxnGateMarker))
            visible += s.getPath.toString
          else {
            val marker = new Path(s.getPath, Catalog.TxnGateMarker)
            readStringResilient(marker).map(_.trim) match {
              case None => // marker vanished under us: un-gated concurrently
                visible += s.getPath.toString
              case Some(txnId) =>
                // a corrupt marker (invalid id chars) must not break every
                // reader's listing — fail closed, vacuum reaps it
                val st = try txnState(name, txnId)
                  catch { case _: IllegalArgumentException => None }
                st match {
                case Some(st) if st.state == "committed" =>
                  // lazy un-gate, best-effort: listings run on READ paths
                  // and must survive a read-only filesystem
                  try { fs.delete(marker, false): Unit }
                  catch { case scala.util.control.NonFatal(_) => () }
                  visible += s.getPath.toString
                case Some(st) =>
                  gated += s.getPath.toString -> Catalog.VectorGate(txnId, st.state)
                case None =>
                  gated += s.getPath.toString -> Catalog.VectorGate(txnId, "missing")
              }
            }
          }
        }
      }
    (visible.result().sorted, gated.result())
  }

  /** One-listing probe for the CDF frontier holdback
    * ([[graft.streaming]]): (versions of VISIBLE roots, versions of roots
    * gated by an OPEN transaction — undecided, hold the frontier
    * indefinitely, versions of roots whose gate is decided-DEAD — aborted
    * or purged, never coming, stop holding). */
  private[graft] def cdfVectorRootProbe(name: String): (Set[Long], Set[Long], Set[Long]) = {
    val (visible, gated) = vectorRootInventory(name)
    val open = gated.collect { case (p, g) if g.state == "open" => p }
    val dead = gated.collect { case (p, g) if g.state != "open" => p }
    (visible.flatMap(vectorRootVersions).toSet,
      open.flatMap(vectorRootVersions).toSet,
      dead.flatMap(vectorRootVersions).toSet)
  }

  /** The union of the topic's deletion vectors as a `(partition, event_id)`
    * relation — None when the topic has none (the common case). Each
    * vector root is directory-partitioned (`partition=p/`), so roots are
    * read individually (multi-root partition discovery needs a shared
    * basePath; a per-root read sidesteps it) and unioned. */
  def deletesRel(name: String): Option[org.apache.spark.sql.DataFrame] = {
    val files = deleteVectorFiles(name)
    files.map(f => spark.read.schema(Catalog.DeleteSchema).parquet(f))
      .reduceOption(_.unionByName(_))
  }

  /** Drop vector-deleted rows from an event DataFrame. An anti-join on the
    * (partition, event_id) key — Catalyst broadcasts the delete relation
    * when its stats are small (the normal case: deletes are a sliver of
    * the log), and AQE handles the rest. */
  private[engine] def applyDeleteVectors(
      name: String, df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    deletesRel(name) match {
      case None => df
      case Some(del) => df.join(del, Seq("partition", "event_id"), "left_anti")
    }

  /**
   * Merge-on-read compliance delete: record every event matching `cond` as
   * a DELETION VECTOR — a small `(partition, event_id)` parquet relation
   * beside the log — instead of rewriting the log. O(matched rows) written,
   * ZERO chunk files touched: at scale this is the difference between a
   * full-log rewrite and appending a few megabytes, and it is the only
   * delete that works on a TIERED topic (rewrites refuse — the archived
   * cold tier would be stranded; a vector simply applies to cold reads
   * too, since hot and cold flow through the same readers).
   *
   * Semantics: logically immediate and RETROACTIVE — every read surface
   * (batch, SQL, streaming, consumer pull, version-pinned time travel)
   * drops vectored ids, including reads pinned BEFORE the delete. That is
   * deliberate: this is a compliance primitive, and a historical version
   * serving purged rows would defeat it (same reason [[purgeTopic]]
   * rewrites history). The physical bytes live until the next log rewrite
   * (compact / expire / keyed compaction) FOLDS the vectors: the rewrite
   * reads the log with vectors applied, then clears `_deletes`.
   *
   * Same NULL rule as [[purgeTopic]]: only rows where `cond` is
   * definitively TRUE are deleted. Already-vectored rows never re-record
   * (the match runs against the vector-applied log), so repeated deletes
   * stay O(newly matched). Sets the id-gap marker before the vector
   * becomes visible, so the O(1) aggregate/limit shortcuts fall back to
   * real scans ([[markIdGaps]]).
   *
   * @return the number of newly vectored (deleted) events
   */
  def deleteWhereVectored(name: String, cond: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    acquireCompactLock(name) // serialize against rewrites (folding clears _deletes)
    try {
      val matched = fullLogDF(name) match {
        case None => return 0L
        case Some(df) => applyDeleteVectors(name, df)
          .filter(coalesce(cond, lit(false)))
          .select(col("partition"), col("event_id"))
      }
      commitVectorsLocked(name, matched)
    } finally releaseCompactLock(name)
  }

  /** Vector-delete an EXPLICIT `(partition, event_id)` relation — the SQL
    * MERGE path (matched rows arrive as row ids from the rewrite plan, not
    * as a predicate). Ids are re-validated against the current
    * vector-applied log under the lock: already-vectored or nonexistent
    * ids drop out, preserving the disjoint-roots invariant that keeps
    * [[deletedCountsByPartition]] exact.
    *
    * @param plannedVersion when set, the snapshot version the caller's
    *        plan read (OPTIMISTIC CONFLICT CHECK, the Delta
    *        WriteSerializable shape): the commit aborts loudly, INSIDE
    *        the lock and before anything is visible, if rows were removed
    *        since — another vector delete landed, or the version folded
    *        out through a log rewrite. Concurrent plain produces never
    *        conflict (appends cannot invalidate a row-level plan). */
  def deleteIdsVectored(name: String, ids: org.apache.spark.sql.DataFrame,
                        plannedVersion: Option[Long] = None): Long = {
    import org.apache.spark.sql.functions.col
    acquireCompactLock(name)
    try {
      plannedVersion.foreach(failOnRowRemovalSince(name, _))
      val matched = fullLogDF(name) match {
        case None => return 0L
        case Some(df) => applyDeleteVectors(name, df)
          .select(col("partition"), col("event_id"))
          .join(ids.select(col("partition"), col("event_id")).distinct(),
            Seq("partition", "event_id"), "left_semi")
      }
      commitVectorsLocked(name, matched)
    } finally releaseCompactLock(name)
  }

  /** The optimistic-concurrency conflict rule for row-level operations
    * (see [[deleteIdsVectored]]): rows were REMOVED after `plannedVersion`
    * iff
    *
    *  - VECTOR-DELETE EVIDENCE exists past it — read from the `_deletes/`
    *    inventory, NOT the manifest log: root names and fold sidecars
    *    carry their commit versions and survive manifest snapshot rolls,
    *    so this side never false-negatives when a roll folds the noted
    *    entries away (a version-less legacy root is conservatively a
    *    conflict — its age cannot be proven); or
    *  - the planned version is NO LONGER RETAINED. A log rewrite
    *    (compact, purge, expire, restore — each rebuilds the manifest)
    *    always trips this; a pure snapshot ROLL (every
    *    [[Catalog.ManifestSnapshotEvery]] commits) is indistinguishable
    *    once the entries are gone, so a plan that outlived ~64 concurrent
    *    commits conflicts too — loud and honest, never a silent
    *    resurrection of rewritten rows.
    *
    * Plain produces never match either side. `plannedVersion = -1` =
    * planned against an empty topic (any removal evidence conflicts). */
  private[engine] def failOnRowRemovalSince(name: String, plannedVersion: Long,
                                            exemptTxn: Option[String] = None): Unit = {
    // version evidence only — sidecar entries or the root-name tag, NO
    // footer reads (this runs inside the row-level commit's serialized
    // window). A version-less legacy root (pre-tag name, or a -1 sidecar
    // entry a fold carried forward) reports -1 and must CONFLICT: its age
    // cannot be proven against the plan.
    val (visibleRoots, gatedRoots) = vectorRootInventory(name)
    val removals = visibleRoots
      .flatMap(f => vectorRootSidecar(f).map(_.map(_.version))
        .getOrElse(Seq(Catalog.vectorRootVersion(f).getOrElse(-1L))))
      .filter(v => v > plannedVersion || v < 0).distinct.sorted
    failOnUndecidedTxnGates(name, gatedRoots, exemptTxn)
    lazy val folded =
      plannedVersion >= 0 && !versionHistory(name).exists(_.version == plannedVersion)
    if (removals.nonEmpty || folded) throw new IllegalStateException(
      s"topic '$name': concurrent modification — this row-level operation " +
      s"planned against version $plannedVersion, but " +
      (if (removals.contains(-1L))
        "the topic holds deletion-vector root(s) with no version tag " +
        "(written by a pre-versioning build) whose age cannot be proven " +
        "against any plan. Re-running will NOT clear this: fold the " +
        "vectors physically first — compact()/maintain() on a hot topic; " +
        "restoreArchive() then compact() on a tiered one"
       else if (removals.nonEmpty)
        "row-removing commit(s) " + removals.mkString(", ") +
          " landed since. Re-run the statement against the current state"
       else "that version is no longer retained (a log rewrite, or a " +
         "manifest snapshot roll after ~64 concurrent commits, folded it)" +
         ". Re-run the statement against the current state") + ".")
  }

  /** A root gated by an OPEN transaction is an UNDECIDED removal no
    * concurrent row-level commit can account for (its version tag may sit
    * below any plan, yet its deletes flip visible retroactively at that
    * transaction's commit, and an overlapping new vector would break the
    * disjoint-roots invariant behind [[deletedCountsByPartition]]) —
    * conservative loud refusal, the mirror of the version-less-root rule.
    * Aborted/purged gates never apply and are ignored (vacuum reaps
    * them). `exemptTxn` lets a transaction's OWN commit re-check without
    * tripping over roots it promoted itself. */
  private def failOnUndecidedTxnGates(
      name: String, gated: Seq[(String, Catalog.VectorGate)],
      exemptTxn: Option[String]): Unit = {
    val undecided = gated.collect {
      case (_, g) if g.state == "open" && !exemptTxn.contains(g.txnId) => g.txnId
    }.distinct
    if (undecided.nonEmpty) throw new IllegalStateException(
      s"topic '$name': concurrent modification — open transaction(s) " +
      s"${undecided.mkString(", ")} hold undecided delete vectors mid-" +
      "commit. Retry after they commit or abort (a crashed one must be " +
      "decided by its owner: resume and commit, or abort it).")
  }

  /** The vector-commit body (stage → count → gap marker → noted manifest
    * commit → rename → auto-fold) — callers hold the compact lock. */
  private def commitVectorsLocked(
      name: String, matched: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.functions.col
    {
      failOnUndecidedTxnGates(name, vectorRootInventory(name)._2, exemptTxn = None)
      val dir = deletesDir(name)
      FileCreate.mkdirs(fs, dir): Unit
      // staged under a NON-hidden name (a dot prefix would make Spark's
      // file index ignore the count read below) that readers still never
      // list — deleteVectorFiles keeps only `d-*` entries
      val staged = new Path(dir, s"tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      // directory-partitioned like the log itself: a reader slice lists
      // ONLY its own `partition=p` subdirectory (directory-level pruning,
      // no foreign footer reads), ids sorted within for row-group skipping
      matched.repartition(col("partition"))
        .sortWithinPartitions(col("event_id"))
        .write.partitionBy("partition").parquet(staged.toString)
      val n = spark.read.schema(Catalog.DeleteSchema).parquet(staged.toString).count()
      if (n == 0L) { fs.delete(staged, true): Unit; return 0L }
      // gap marker FIRST: the O(1) shortcuts must be disabled by the time
      // any reader can observe the vector (a crash between the two leaves
      // a benign marker, never a stale shortcut)
      markIdGaps(name)
      // the delete IS a commit (the Delta CDC shape): a manifest delta
      // NOTED "delete-vector" — safe here because acquireCompactLock's
      // acquire-then-check excludes in-flight produces, the same exclusion
      // rewrites rely on (and updateManifest never adopts files whose ids
      // sit at/above the watermark, so a crashed produce's orphans stay
      // purgeable). The delta moves no watermark (vectored ids stay
      // allocated). The committed seq is embedded in the root's name
      // (`d-<ms>-v<seq>-…`) so the change-data-feed attributes the delete
      // EXACTLY, with no timestamp tie-breaking. Commit precedes the
      // rename: a crash between them aborts the delete cleanly (the
      // staged tmp is never listed and vacuums later), leaving only a
      // benign noted commit whose root never appears — which is also why
      // the commit is noted: a change-feed stream must not advance its
      // delete frontier past a fresh delete commit whose root is not
      // visible YET (the rename races the trigger), so the source holds
      // the frontier back until the root appears or the commit ages past
      // the in-flight horizon (see GraftMicroBatchStream.cdfFrontier).
      updateManifest(name, nextIds(name), note = Some(Catalog.DeleteVectorNote))
      val version = versionHistory(name).lastOption.map(_.version).getOrElse(0L)
      val committed = new Path(dir,
        s"d-${System.currentTimeMillis()}-v$version-" +
          staged.getName.stripPrefix("tmp-"))
      if (!fs.rename(staged, committed))
        throw new java.io.IOException(s"deleteWhereVectored: cannot commit $staged")
      // auto-fold: every reader slice pays one vector-relation load per
      // root, so a delete-heavy topic that never runs maintenance must
      // still keep the root count bounded. Safe for the change feed — the
      // fold persists each source's (version, ms, bounds) attribution
      // (sidecar + per-row columns), so folded preimages replay under
      // their ORIGINAL commit. Still under this call's compact lock.
      if (deleteVectorFiles(name).size > 4)
        compactDeleteVectorsLocked(name): Unit
      n
    }
  }

  /**
   * Merge the topic's committed deletion vectors into ONE relation — the
   * fold available on TIERED topics, where log rewrites refuse: every
   * reader slice pays one load per vector file, so maintenance must bound
   * the COUNT even when the physical purge (a log rewrite) is
   * unavailable. Commit-then-delete ordering means a reader racing the
   * swap sees the merged relation plus not-yet-deleted originals — a
   * union with duplicate ids, never a loss (the sorted-array search and
   * the anti-join both tolerate duplicates). Physical purge of a tiered
   * topic's vectored bytes remains `restoreArchive()` + a rewrite.
   *
   * @return the number of vector files folded away (0 = nothing to do)
   */
  def compactDeleteVectors(name: String): Int = {
    acquireCompactLock(name)
    try compactDeleteVectorsLocked(name)
    finally releaseCompactLock(name)
  }

  /** The fold body — callers must hold the topic's compact lock
    * ([[deleteWhereVectored]] auto-folds while still holding it). */
  private[engine] def compactDeleteVectorsLocked(name: String): Int = {
    import org.apache.spark.sql.functions.{col, lit}
    val files = deleteVectorFiles(name)
    if (files.size <= 1) return 0
    val dir = deletesDir(name)
    // attribution gathered BEFORE the rewrite: each source keeps its
    // original (version, ms, id bounds) through the fold — sidecar
    // entries pass through for roots that are themselves folds
    val perRoot: Seq[(String, Seq[VectorSource])] =
      files.map(f => f -> vectorRootSources(f))
    // merge entries that alias the same commit: entries seen through a
    // fold sidecar supersede same-key plain entries (a crashed fold's
    // leftover input holds REPLICA rows — keep max; the distinct() below
    // dedupes the data itself); plain-only same-key entries are distinct
    // commits sharing a stamp — their rows sum
    val sources: Seq[VectorSource] = perRoot
      .flatMap { case (f, srcs) =>
        val fromFold = vectorRootSidecar(f).isDefined
        srcs.map(s => (fromFold, s))
      }
      .groupBy { case (_, s) => (s.version, s.ms) }.toSeq.sortBy(_._1._2)
      .map { case ((v, ms), group) =>
        val kept = group.filter(_._1) match {
          case folded if folded.nonEmpty => folded.map(_._2)
          case _ => group.map(_._2)
        }
        val agg: Seq[VectorRootStats] => Long =
          if (group.exists(_._1)) _.map(_.rows).max else _.map(_.rows).sum
        VectorSource(v, ms, kept.flatMap(_.bounds.toSeq)
          .groupBy(_._1).view.mapValues(bs => VectorRootStats(
            agg(bs.map(_._2)),
            bs.map(_._2.minId).min, bs.map(_._2.maxId).max)).toMap)
      }
    val staged = new Path(dir, s"tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    perRoot.map { case (f, srcs) =>
      if (vectorRootSidecar(f).isDefined)
        spark.read.schema(Catalog.DeleteSchemaWithSource).parquet(f)
      else // plain root: one source, stamped from the name
        spark.read.schema(Catalog.DeleteSchema).parquet(f)
          .withColumn("_v", lit(srcs.head.version))
          .withColumn("_ms", lit(srcs.head.ms))
    }
      .reduce(_.unionByName(_))
      .distinct()
      .repartition(col("partition"))
      .sortWithinPartitions(col("event_id"))
      .write.partitionBy("partition").parquet(staged.toString)
    // sidecar rides inside the root (underscore name: invisible to every
    // parquet listing) and commits atomically with it via the rename —
    // written pre-rename, so a plain create is safe
    FileCreate.write(fs, new Path(staged, "_sources.json"),
      VectorSource.seqToJson(sources).getBytes(StandardCharsets.UTF_8))
    // MIN source millis in the name keeps even legacy timestamp
    // attribution conservative (never attributes folded deletes to a
    // commit AFTER their original)
    val committed = new Path(dir,
      s"d-${sources.map(_.ms).min}-${staged.getName.stripPrefix("tmp-")}")
    if (!fs.rename(staged, committed))
      throw new java.io.IOException(s"compactDeleteVectors: cannot commit $staged")
    // inputs are MARKED folded, not deleted: an in-flight change-feed plan
    // (a micro-batch racing this fold) may hold a preimage slice that
    // reads an input root by path — deleting it here would silently empty
    // that slice and lose the deletes from the feed as offsets advance.
    // Marked roots vanish from every NEW listing (deleteVectorFiles) and
    // are physically reaped by vacuum once older than the lock-staleness
    // horizon, far past any plan-to-execute window. A crash between the
    // rename and a marker leaves a live replica — source-level dedupe in
    // the planners keeps that exact too.
    files.foreach { f =>
      FileCreate.touch(fs, new Path(new Path(f), Catalog.FoldedMarker))
    }
    files.size
  }

  /** Parsed `_sources.json` of a fold root (None on plain roots) —
    * cached by path: roots are immutable by name. */
  private val sourcesCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[Seq[VectorSource]]]()

  def vectorRootSidecar(dirStr: String): Option[Seq[VectorSource]] =
    sourcesCache.computeIfAbsent(dirStr, { _ =>
      val p = new Path(new Path(dirStr), "_sources.json")
      val dfs = p.getFileSystem(hadoopConf)
      if (!dfs.exists(p)) None
      else {
        val in = dfs.open(p)
        val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        Some(VectorSource.seqFromJson(text))
      }
    })

  /** Every attributable delete commit in a vector root: the sidecar's
    * entries on fold roots; a single name-derived source (bounds from
    * the footers) on plain roots. */
  def vectorRootSources(dirStr: String): Seq[VectorSource] =
    vectorRootSidecar(dirStr).getOrElse(Seq(VectorSource(
      Catalog.vectorRootVersion(dirStr).getOrElse(-1L),
      Catalog.vectorRootMillis(dirStr),
      deleteVectorRootStats(dirStr))))

  /** The commit versions a root's sources are tagged with (cheap: sidecar
    * or name only — no footer reads) — the streaming change feed's
    * root-visibility probe must keep seeing a delete commit's version
    * after a fold buries its root name. */
  def vectorRootVersions(dirStr: String): Seq[Long] =
    vectorRootSidecar(dirStr) match {
      case Some(srcs) => srcs.map(_.version).filter(_ >= 0L)
      case None => Catalog.vectorRootVersion(dirStr).toSeq
    }

  /** Footer-derived per-partition stats of ONE committed vector root —
    * immutable by name, so cached forever (bounded by the maintenance
    * fold). Metadata-only: parquet footers, no page reads. */
  private val deleteStatsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[Int, VectorRootStats]]()

  /** Per-partition (rows, min id, max id) of one committed vector root.
    * The id bounds let the change-data-feed's delete-preimage scan plan
    * ONLY the chunk files a root's ids can touch; missing statistics
    * degrade to an unbounded-but-correct (MinValue, MaxValue) window. */
  def deleteVectorRootStats(dirStr: String): Map[Int, VectorRootStats] = {
    val conf = hadoopConf
    deleteStatsCache.computeIfAbsent(dirStr, { _ =>
      val dir = new Path(dirStr)
      val dfs = dir.getFileSystem(conf)
      dfs.listStatus(dir).filter(_.isDirectory).flatMap { sub =>
        sub.getPath.getName.split('=') match {
          case Array("partition", p) =>
            var rows = 0L
            var lo = Long.MaxValue
            var hi = Long.MinValue
            // bounds are only usable when EVERY row-bearing row group has
            // event_id statistics — a partial gap (one stats-less file
            // among stat-bearing ones) must widen to never-prune, or the
            // preimage scan window silently misses the stats-less rows
            var statless = false
            dfs.listStatus(sub.getPath)
              .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
              .foreach { f =>
                val in = org.apache.parquet.hadoop.util.HadoopInputFile
                  .fromPath(f.getPath, conf)
                val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
                try {
                  rows += r.getRecordCount
                  r.getRowGroups.forEach { block =>
                    var blockHasStats = false
                    block.getColumns.forEach { c =>
                      if (c.getPath.toDotString == "event_id") c.getStatistics match {
                        case ls: org.apache.parquet.column.statistics.LongStatistics
                          if ls.hasNonNullValue =>
                          lo = math.min(lo, ls.getMin); hi = math.max(hi, ls.getMax)
                          blockHasStats = true
                        case _ =>
                      }
                    }
                    if (!blockHasStats && block.getRowCount > 0) statless = true
                  }
                } finally r.close()
              }
            if (rows == 0L) None
            else if (statless || lo > hi) // any stats gap: never prune
              Some(p.toInt -> VectorRootStats(rows, Long.MinValue, Long.MaxValue))
            else Some(p.toInt -> VectorRootStats(rows, lo, hi))
          case _ => None
        }
      }.toMap
    })
  }

  /** THE crashed-fold supersession rule, in one place: enumerate every
    * (root, source) of the topic's listed vector roots, dropping plain
    * entries whose (version, ms) a FOLD root's sidecar also carries — a
    * fold that crashed between committing its merged root and marking an
    * input leaves that input listed as a REPLICA of the fold's source.
    * Same-key PLAIN entries with no fold sidecar are distinct commits
    * that merely share a stamp and are all kept. Every surface that
    * enumerates delete sources (feed planning, exact statistics, clone
    * copies) goes through here so they can never disagree on what a
    * replica is. */
  def dedupedVectorSources(name: String): Seq[(String, VectorSource)] =
    dedupeVectorSources(deleteVectorFiles(name)
      .flatMap(root => vectorRootSources(root).map(root -> _)))

  /** [[dedupedVectorSources]] over an explicit (root, source) listing.
    * When a key appears in SEVERAL fold roots (a fold-of-fold that
    * crashed before marking its input fold), every shared key must
    * resolve to the SAME surviving root — the widest sidecar wins (the
    * newer fold's sources are a strict superset of the fold it merged),
    * name as the deterministic tiebreak — or a clone's copy (which drops
    * sidecars) could keep two roots that each carry some shared keys and
    * duplicate their rows. */
  private[graft] def dedupeVectorSources(
      all: Seq[(String, VectorSource)]): Seq[(String, VectorSource)] =
    all.groupBy { case (_, s) => (s.version, s.ms) }.values.flatMap { group =>
      group.filter { case (root, _) => vectorRootSidecar(root).isDefined } match {
        case folded if folded.nonEmpty =>
          Seq(folded.minBy { case (root, _) =>
            (-vectorRootSidecar(root).map(_.size).getOrElse(1), root) })
        case _ => group
      }
    }.toSeq.sortBy { case (root, s) => (s.ms, s.version, root) }

  /** Per-partition vectored-delete counts across the topic's committed
    * vectors. EXACT: deleteWhereVectored never re-records an already-
    * vectored id, so SOURCES are disjoint; summing per deduped source —
    * not per root — stays exact even in the crashed-fold window where a
    * source's rows sit in both the merged root and a not-yet-marked
    * input root. */
  def deletedCountsByPartition(name: String): Map[Int, Long] =
    dedupedVectorSources(name)
      .map(_._2.bounds)
      .foldLeft(Map.empty[Int, Long]) { (acc, m) =>
        m.foldLeft(acc) { case (a, (p, s)) =>
          a + (p -> (a.getOrElse(p, 0L) + s.rows))
        }
      }

  /**
   * Time-based retention (Kafka's `retention.ms` analog): per partition,
   * find the earliest event whose `eventTime` is at or past `cutoff` and
   * drop everything BEFORE it. Prefix semantics, deliberately — retention
   * trims a contiguous head of each partition's id space, so an
   * out-of-order old-timestamped event that arrived AFTER the boundary is
   * retained rather than punched out of the middle (deleting from the
   * middle is [[purgeTopic]]'s job; cursors and the dense-suffix reasoning
   * of [[expireTopic]] both survive unchanged). The per-partition bound is
   * a tiny aggregate broadcast back onto the log scan — no extra shuffle
   * of the data itself. Same lock/swap/manifest contract as
   * [[compactTopic]].
   *
   * @param eventTime column over the event schema (metadata/data/
   *                  event_id/partition) giving each event's time; rows
   *                  where it is NULL never extend the retained prefix
   * @param cutoff    events strictly before the first `eventTime >= cutoff`
   *                  event (per partition) are dropped; a partition with no
   *                  such event is emptied entirely
   */
  def expireTopicOlderThan(name: String, eventTime: org.apache.spark.sql.Column,
                           cutoff: org.apache.spark.sql.Column,
                           chunkMaxRecords: Long = 1000000L): Unit = {
    import org.apache.spark.sql.functions.{broadcast, col, min}
    acquireCompactLock(name)
    try {
      markIdGaps(name)
      rewriteLocked(name, chunkMaxRecords, { df =>
      val bounds = df.filter(eventTime >= cutoff)
        .groupBy(col("partition")).agg(min(col("event_id")).as("__keep_from"))
      df.join(broadcast(bounds), Seq("partition"))
        .filter(col("event_id") >= col("__keep_from"))
        .drop("__keep_from")
      })
    } finally releaseCompactLock(name)
  }

  /**
   * Validator evolution — the schema-registry compatibility gate: replace
   * the topic's validator with `validator`, refusing (loudly, with the
   * failing count) when `checkExisting` and any COMMITTED event fails the
   * new rules. That is "full compatibility" in registry terms: consumers
   * reading the whole log under the new schema must never meet an event
   * that violates it — tightening is allowed only once the data already
   * conforms; loosening always passes the check. `checkExisting = false`
   * skips the scan for the forced-migration case (new events validate
   * against the new rules; history stays as-is, like registry NONE mode).
   *
   * Runs under the produce lock: a produce validates against the config
   * it opened with, so the swap must not land mid-produce (the lock
   * serializes both). The check itself is one metadata-column scan —
   * payload bytes are never read (Parquet column pruning).
   */
  def alterTopicValidator(name: String, validator: Validator,
                          checkExisting: Boolean = true): Unit = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val cfg = openTopic(name)
    Validator.fromDescriptor(validator.descriptor) // DDL-time plugin check
    // DRAINING acquisition: the conformance scan reads the committed log,
    // so a concurrent produce mid-flight (validated against the OLD
    // validator, invisible in its staging dir) must commit or roll back
    // before a tightening swap can claim "existing data conforms"
    acquireProduceLockDraining(name)
    try {
      // vector-deleted events are not part of the committed history any
      // consumer can read — they must not block a tightening validator
      val history =
        if (checkExisting) fullLogDF(name).map(applyDeleteVectors(name, _)) else None
      history.foreach { df =>
        val decoded = Serializer.fromDescriptor(cfg.serializer).decodedMetadataCol
        val bad = df
          .filter(!coalesce(validator.predicate(decoded), lit(false)))
          .count()
        if (bad > 0) throw new IllegalStateException(
          s"alterValidator rejected for topic '$name': $bad existing " +
            "events fail the new validator (full-compatibility check)")
      }
      writeTopicConfig(cfg.copy(validator = validator.descriptor))
    } finally releaseProduceLock(name)
  }

  /**
   * Key compaction (Kafka's `cleanup.policy=compact` analog): per
   * (partition, key), rewrite the log keeping only the LATEST event — the
   * one with the highest `event_id` — so the topic converges to a
   * changelog snapshot of one live value per key. Like the reference's
   * append-only log, superseded versions simply stop being readable; ids
   * of the survivors are preserved, so the id space gains GAPS exactly as
   * [[purgeTopic]] documents (cursors are threshold-based and tolerate
   * them) and the produce watermark is untouched.
   *
   * Scope is per partition, as in Kafka: a selector that routes the same
   * key to different partitions leaves one survivor in EACH — key
   * compaction presumes key-aligned partitioning (the engine's
   * `MetadataHash`/`FieldMod` selectors provide it).
   *
   *  - events where `key` is NULL (the field is absent/malformed) are
   *    retained unconditionally — compaction must never silently delete
   *    data it cannot attribute to a key;
   *  - with `dropTombstones=true`, a key whose latest event has an EMPTY
   *    payload (`data` null or zero-length) is removed entirely — Kafka's
   *    tombstone collection, the mechanism compacted topics use to delete
   *    keys.
   *
   * One windowed shuffle keyed by (partition, key) — at scale this is the
   * same shape as any latest-version CDC collapse; no driver-side state.
   * Same maintenance-window lock/swap/manifest contract as
   * [[compactTopic]].
   */
  def compactTopicByKey(name: String, key: org.apache.spark.sql.Column,
                        dropTombstones: Boolean = false,
                        chunkMaxRecords: Long = 1000000L): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{coalesce, col, length, lit, max}
    acquireCompactLock(name)
    try rewriteLocked(name, chunkMaxRecords, { df =>
      markIdGaps(name)
      val keyed = df.withColumn("__ck", key)
      val w = Window.partitionBy(col("partition"), col("__ck"))
      val latest = keyed
        .withColumn("__max_id", max(col("event_id")).over(w))
        .filter(col("__ck").isNull || col("event_id") === col("__max_id"))
      val kept =
        if (!dropTombstones) latest
        // survivors with a key and no payload are tombstones: the key is
        // deleted once its latest version is empty
        else latest.filter(col("__ck").isNull ||
          coalesce(length(col("data")), lit(0)) > 0)
      kept.drop("__ck", "__max_id")
    })
    finally releaseCompactLock(name)
  }

  /**
   * Orphan-file GC: remove files in the topic directory that no committed
   * state references — the debris crashed operations leave behind:
   *
   *  1. uncommitted chunk files (a produce that died between its parquet
   *     write and its manifest commit — same signature `purgeUncommitted`
   *     uses at crash recovery: not in the manifest AND footer ids at/above
   *     the committed watermark, so a committed file can never match);
   *  2. `log.compact.tmp` (always garbage) and `log.compact.old` once the
   *     live log exists (a crashed compactor's moved-aside copy — restored
   *     first if it is the ONLY copy, and its moved-aside manifest log
   *     replaced by a rebuilt one, by `rewriteLocked`'s recovery);
   *  3. `.*.tmp` leftovers of `writeAtomic`, only when older than
   *     [[Catalog.CompactLockStaleMs]] — cursor acknowledgements write
   *     outside the topic locks, so a FRESH tmp file may be an in-flight
   *     write and is left alone.
   *
   * Runs under the compact lock (and refuses under a live produce), so it
   * can never race the writers whose debris it collects. Safe to run on
   * any cadence; a no-op on a clean topic.
   */
  def vacuumTopic(name: String): VacuumReport = {
    acquireCompactLock(name)
    try vacuumLocked(name)
    finally releaseCompactLock(name)
  }

  private def vacuumLocked(name: String): VacuumReport = {
    var chunks = 0; var swaps = 0; var tmps = 0; var bytes = 0L
    def drop(p: Path, recursive: Boolean): Unit = {
      bytes += (try fs.getContentSummary(p).getLength
        catch { case _: java.io.FileNotFoundException => 0L })
      fs.delete(p, recursive): Unit
    }
    // 0. crash recovery FIRST (same ordering rule as rewriteLocked): a
    // compactor that died inside its swap is finished before any listing
    // or delete, so the chunk pass below scans the restored log and reads
    // the rebuilt manifest
    recoverSwapLocked(name)
    val old0 = new Path(topicPath(name), "log.compact.old")
    // 1. uncommitted chunks — purgeUncommitted's signature, counted
    readManifest(name).foreach { m =>
      val conf = hadoopConf
      val wm = nextIds(name)
      unlistedChunkFiles(name, m, wm.keys).foreach { case (p, rel) =>
        val f = new Path(logPath(name), rel)
        val (lo, _) = Catalog.fileIdRange(f, conf)
        if (lo != Long.MinValue && lo >= wm.getOrElse(p, 0L)) {
          chunks += 1; drop(f, recursive = false)
        }
      }
    }
    // 2. crashed-compaction swap leftovers (restore already ran above, so
    // anything still here sits ALONGSIDE a live log — safe garbage)
    val tmp = new Path(topicPath(name), "log.compact.tmp")
    Seq(tmp, old0).foreach { p =>
      if (fs.exists(p)) { swaps += 1; drop(p, recursive = true) }
    }
    // 2b. orphan concurrent-produce staging dirs: a rollback deletes
    // staging BEFORE the intent record, so a dir without a matching
    // intent is debris (a zombie task's late re-creation, or a crash
    // inside the rollback) — reaped past the staleness horizon. Dirs
    // WITH an intent belong to a live or decided-elsewhere produce and
    // are left to the intent machinery. A lock-held produce's `held-*`
    // dir has no intent, but vacuum never runs under a held produce lock,
    // so only a crashed one's dir can be reaped here. Age is judged store-clock vs
    // store-clock (the same two-step rule as the txn and intent leases:
    // localNow as a cheap prefilter, [[storeNowMs]] for the decision) —
    // a local JVM clock running ahead of the store must never reap a
    // live slow produce's staging out from under it.
    val stagingRoot = new Path(topicPath(name), "log.staging")
    val intentIds = listProduceIntents(name).map(_._1).toSet
    if (fs.exists(stagingRoot)) {
      val orphans = fs.listStatus(stagingRoot).filter(s =>
        s.isDirectory && !intentIds.contains(s.getPath.getName))
      val localNow = localNowMs
      val candidates = orphans.filter(s =>
        localNow - s.getModificationTime > Catalog.CompactLockStaleMs)
      if (candidates.nonEmpty) {
        val storeNow = storeNowMs(stagingRoot)
        candidates.foreach { s =>
          if (storeNow - s.getModificationTime > Catalog.CompactLockStaleMs) {
            swaps += 1; drop(s.getPath, recursive = true)
          }
        }
      }
    }
    // 2c. orphan heartbeat lease markers (`.<id>.json.lease` without a
    // record): debris of a lease create racing its intent's rollback or
    // commit. Inert — a lease mtime only ever extends a LISTED record's
    // lease — but must not accumulate. Vacuum holds the COMPACT lock, not
    // the produce lock, so a new intent CAN be reserved between the record
    // listing above and this lease listing — its fresh lease would look
    // orphaned. Reap only leases past the staleness horizon (store-clock
    // two-step, like 2b): a LIVE intent's lease is refreshed every
    // horizon/4, so an aged record-less lease is definitively dead.
    val iDir = intentsDir(name)
    if (fs.exists(iDir)) {
      val localNow2 = localNowMs
      val leaseOrphans = fs.listStatus(iDir).filter { s =>
        val n = s.getPath.getName
        s.isFile && n.startsWith(".") && n.endsWith(".json.lease") &&
          !intentIds.contains(n.stripPrefix(".").stripSuffix(".json.lease")) &&
          localNow2 - s.getModificationTime > Catalog.CompactLockStaleMs
      }
      if (leaseOrphans.nonEmpty) {
        val storeNow2 = storeNowMs(iDir)
        leaseOrphans.foreach { s =>
          if (storeNow2 - s.getModificationTime > Catalog.CompactLockStaleMs) {
            tmps += 1; drop(s.getPath, recursive = false)
          }
        }
      }
    }
    // 3. stale writeAtomic leftovers (".<name>.tmp"), topic root + manifest
    val horizon = System.currentTimeMillis() - Catalog.CompactLockStaleMs
    Seq(topicPath(name), manifestDir(name)).foreach { d =>
      if (fs.exists(d)) fs.listStatus(d)
        .filter(f => f.isFile && f.getPath.getName.startsWith(".") &&
          f.getPath.getName.endsWith(".tmp") &&
          f.getModificationTime < horizon)
        .foreach { f => tmps += 1; drop(f.getPath, recursive = false) }
    }
    // 4. staged deletion vectors from a crashed deleteWhereVectored (never
    // listed by readers; committed `d-*` relations are live data, kept) +
    // fold-superseded roots whose marker aged past the horizon (kept on
    // disk for in-flight plans that referenced them by path — see
    // compactDeleteVectorsLocked)
    val delDir = deletesDir(name)
    // a `txn-` staging's / gated root's owning transaction, when readable
    def gateState(p: Path): Option[String] =
      readStringResilient(new Path(p, Catalog.TxnGateMarker)).map(_.trim)
        .map(id => (try txnState(name, id)
          catch { case _: IllegalArgumentException => None })
          .map(_.state).getOrElse("missing"))
    if (fs.exists(delDir)) fs.listStatus(delDir).foreach { s =>
      if (s.isDirectory && s.getPath.getName.startsWith("tmp-") &&
          s.getModificationTime < horizon) {
        tmps += 1; drop(s.getPath, recursive = true)
      } else if (s.isDirectory && s.getPath.getName.startsWith("txn-")) {
        // multi-statement transaction stagings: an OPEN transaction's
        // ADOPTED staging is live data whatever its age; everything else
        // — decided (aborted reaps eagerly, committed renames), purged,
        // markerless, or an unadopted staging past the staleness horizon
        // (a crash between staging and the state append) — is debris
        val st = gateState(s.getPath)
        // adoption is matched by SUFFIX, not full path — listings return
        // scheme-qualified URIs while the recorded staging path may not be
        val sfx = s.getPath.getName.stripPrefix("txn-")
        val adopted = st.contains("open") &&
          readStringResilient(new Path(s.getPath, Catalog.TxnGateMarker))
            .map(_.trim)
            .flatMap(id => try txnState(name, id)
              catch { case _: IllegalArgumentException => None })
            .exists(_.deletes.exists(_.suffix == sfx))
        val dead = st.forall(x => x == "aborted" || x == "missing") ||
          (!adopted && s.getModificationTime < horizon)
        if (dead) { tmps += 1; drop(s.getPath, recursive = true) }
      } else if (s.isDirectory && s.getPath.getName.startsWith("d-")) {
        val marker = new Path(s.getPath, Catalog.FoldedMarker)
        try {
          if (fs.getFileStatus(marker).getModificationTime < horizon) {
            tmps += 1; drop(s.getPath, recursive = true)
          }
        } catch { case _: java.io.FileNotFoundException => }
        // a root gated by a DECIDED-DEAD transaction (aborted, or its
        // record purged — committed records are never removed) never
        // becomes visible — but it IS the evidence that lets the CDF
        // frontier skip its noted commit instead of waiting out the
        // in-flight horizon (see abortTxn), so reap only once aged past
        // the staleness horizon. `exists`, not `forall`: a marker that
        // vanishes between the listing and the read is a commit's eager
        // un-gate — the root is LIVE committed data
        if (s.getModificationTime < horizon &&
            gateState(s.getPath).exists(x => x == "aborted" || x == "missing")) {
          tmps += 1; drop(s.getPath, recursive = true)
        }
      }
    }
    // 5. staged MERGE actions from a driver that died before its commit's
    // cleanup (`tmp-merge-*` at topic level — never listed by readers).
    // Staging is written OUTSIDE the topic locks, so age alone can't
    // prove abandonment (a straggler task can out-live the horizon): a
    // live MERGE heartbeats its `_inprogress` marker, and only a STALE
    // marker (dead driver) or a markerless aged dir is reaped. Staging a
    // MERGE INTENT still references is NEVER reaped, stale or not —
    // recovery's roll-forward re-reads it (reconcileProduceState owns
    // both the staging and the intent from there).
    val intentStaging: Set[String] =
      listMergeIntents(name).values.map(i => new Path(i.stagingDir).getName).toSet
    fs.listStatus(topicPath(name))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("tmp-merge-") &&
        !intentStaging.contains(s.getPath.getName))
      .foreach { s =>
        val live = stagingMarkerFresh(s.getPath, horizon,
          fallback = s.getModificationTime >= horizon)
        if (!live) { tmps += 1; drop(s.getPath, recursive = true) }
      }
    VacuumReport(chunks, swaps, tmps, bytes)
  }

  /**
   * One-call maintenance policy for long-lived topics (the cron-job
   * surface): compact WHEN NEEDED (any partition's live chunk-file count
   * exceeds `maxFilesPerPartition` — streaming producers append at least
   * one file per partition per micro-batch, so this is the knob that keeps
   * listing/open overhead bounded), then vacuum crashed-operation debris,
   * then refresh every existing zone-map index (compaction rewrites paths,
   * so indexes go conservative until refreshed). Each step is the same
   * lock-guarded operation callable individually; a clean topic is a
   * cheap no-op (one manifest read + one listing).
   *
   * @return (compacted?, vacuum report, files newly indexed across indexes)
   */
  def maintainTopic(name: String, maxFilesPerPartition: Int = 16,
                    chunkMaxRecords: Long = 1000000L): (Boolean, VacuumReport, Int) = {
    require(maxFilesPerPartition > 0,
      s"maxFilesPerPartition must be positive: $maxFilesPerPartition")
    // decide crashed MERGE intents first — the cron surface is the
    // recovery trigger for topics whose last-ever write was a torn MERGE
    // (write-path entries reconcile themselves; reads never do). A BUSY
    // topic (live produce blocking the lock, or a live compaction
    // refusing the roll-forward's vector commit — both typed
    // LockConflictException) skips the prologue quietly and KEEPS
    // maintaining — cron must not lose vacuum and index refresh to a
    // recovery that the next write-path entry (which reconciles loudly,
    // unconditionally) will perform anyway. Any OTHER reconcile failure
    // (e.g. a corrupt intent, an IO fault mid-roll-forward) also keeps
    // maintaining but is LOGGED: correctness stays covered by write-path
    // entries, but a repeatedly failing roll-forward must be visible
    // from the cron surface, not silently dropped.
    try recoverPendingMerges(name)
    catch {
      case _: LockConflictException => ()
      case scala.util.control.NonFatal(e) =>
        Catalog.log.warn(
          s"maintainTopic('$name'): merge recovery failed (continuing " +
          s"with maintenance; the next write-path entry retries it): $e")
    }
    // Transaction janitor (the Kafka coordinator's background work):
    // (1) auto-abort abandoned OPEN transactions past
    //     spark.graft.txn.timeoutMs — releasing read_committed batch
    //     readers and LSO-clamped committed streams wedged behind a
    //     client that died without deciding (write-path entries do the
    //     same at every produce; the cron surface covers topics nobody
    //     writes to anymore). A busy topic skips quietly — the lock
    //     holder's own entry reconciles.
    // (2) once MORE THAN spark.graft.txn.maxAbortedRecords decided-dead
    //     records have aged past spark.graft.txn.abortedRetainMs,
    //     physically reclaim them — the read_committed exclusion set is
    //     bounded by construction, the same shape as the >4-vector fold
    //     trigger below. Hot topics purge (a log rewrite: rows gone,
    //     records removed) and need no live clones; TIERED topics convert
    //     the dead ranges to deletion vectors instead (rewrites refuse
    //     there) and then remove the records — same bound, bytes
    //     reclaimed at the next tier restore/rewrite
    //     ([[vectorDeadTxnRecords]]).
    try {
      val acquired =
        try { acquireProduceLock(name); true }
        catch { case _: LockConflictException => false }
      if (acquired)
        // the FULL reconcile, not the bare expiry pass: an expiring
        // transaction must abort with its phantom tail already truncated
        // (reconcile's ordering guarantees it) — a bare expiry after a
        // crashed produce would freeze never-issued ids as decided-dead,
        // and a later produce re-issuing them would have its committed
        // rows excluded forever and eventually purged as "dead". The
        // extra passes (pid/remote/merge reconcile) are idempotent and
        // cron-appropriate.
        try reconcileProduceState(name): Unit
        finally releaseProduceLock(name)
    } catch {
      case scala.util.control.NonFatal(e) =>
        Catalog.log.warn(s"maintainTopic('$name'): transaction expiry " +
          s"failed (the next write-path entry retries it): $e")
    }
    val tiered = isTiered(name)
    val noClones = liveClones(name).isEmpty
    try {
      val retainMs = conf("spark.graft.txn.abortedRetainMs",
        Catalog.TxnAbortedRetainMsDefault.toString).toLong
      val maxDead = conf("spark.graft.txn.maxAbortedRecords",
        Catalog.TxnMaxAbortedRecordsDefault.toString).toInt
      if (tiered || noClones) {
        val (aborted, deadRemote) = agedDeadTxnRecords(name, retainMs)
        if (aborted.size + deadRemote.size > maxDead) {
          if (tiered)
            vectorDeadTxnRecords(name, aborted, deadRemote): Unit
          else
            purgeDeadTxnRecords(name, aborted, deadRemote, chunkMaxRecords): Unit
        }
      }
    } catch {
      case _: LockConflictException => () // busy topic: next pass purges
      case scala.util.control.NonFatal(e) =>
        Catalog.log.warn(s"maintainTopic('$name'): aborted-transaction " +
          s"purge failed (continuing with maintenance): $e")
    }
    // tiered topics skip the compact step (rewrites refuse on them); the
    // hot tail usually stays small precisely because the bulk is archived.
    // Accumulated deletion vectors also trigger a fold: every reader pays
    // one vector-relation load per slice, so the vector COUNT must stay
    // bounded between maintenance runs (the rewrite folds them physically
    // and clears _deletes)
    // one `_deletes` listing serves both the hot-topic fold trigger and the
    // tiered merge trigger (the branches are mutually exclusive on
    // isTiered); the fold/merge operations re-list under their own locks
    val vectorRoots = deleteVectorFiles(name)
    val needsCompact = !tiered && noClones && (
      vectorRoots.size > 4 ||
      readManifest(name).exists(m =>
        manifestFileCounts(name, m).values.exists(_ > maxFilesPerPartition)))
    if (needsCompact) compactTopic(name, chunkMaxRecords)
    // tiered topics can't fold vectors through a rewrite — merge the
    // vector FILES instead, so the per-slice load count stays bounded
    if (tiered && vectorRoots.size > 4)
      compactDeleteVectors(name): Unit
    val vac = vacuumTopic(name)
    val indexed = listIndexes(name).map { idx =>
      MetadataIndex.refreshExisting(spark, this, name, idx)
    }.sum + BloomIndex.list(spark, this, name).map { idx =>
      BloomIndex.refreshExisting(spark, this, name, idx)
    }.sum
    (needsCompact, vac, indexed)
  }

  /** Names of the topic's zone-map indexes (directories under `_index`). */
  def listIndexes(name: String): Seq[String] = {
    val dir = new Path(topicPath(name), "_index")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).filter(_.isDirectory)
      .map(_.getPath.getName).filterNot(_.endsWith(".tmp")).toSeq.sorted
  }

  private def rewriteLocked(name: String, chunkMaxRecords: Long,
                            transform: org.apache.spark.sql.DataFrame
                              => org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.functions.col
    // a rewrite reads and swaps the HOT log only — running one with a cold
    // tier present would strand cold rows out of the rewrite's semantics
    // (compact would merely miss them, but expire/delete would silently NOT
    // delete them) — refuse loudly instead
    failIfTiered(name, "log rewrite (compact/expire/delete)")
    // a rewrite replaces every chunk file — live shallow clones reference
    // the ORIGINALS by absolute path and would start erroring later
    failIfLiveClones(name, "log rewrite (compact/expire/delete)")
    val log = new Path(logPath(name))
    val tmp = new Path(topicPath(name), "log.compact.tmp")
    val old = new Path(topicPath(name), "log.compact.old")
    // a previous run's crash first; then a leftover `old` alongside a live
    // log (crash after the second rename) is safe garbage
    recoverSwapLocked(name)
    fs.delete(tmp, true)
    fs.delete(old, true)
    if (!fs.exists(log)) return
    // a lost manifest log is rebuilt before the rewrite can drop its tail
    if (readManifest(name).isEmpty) rebuildManifest(name)
    val n = openTopic(name).partitions
    // FOLD deletion vectors: the rewrite's input is the vector-applied log,
    // so vectored rows are physically purged by any rewrite — then the now-
    // redundant vectors are cleared after the swap (a crash before the
    // clear is safe: re-applying a vector whose ids no longer exist is a
    // no-op anti-join)
    transform(applyDeleteVectors(name,
        spark.read.schema(Catalog.EventSchema).parquet(log.toString)))
      .repartition(n, col("partition"))
      .sortWithinPartitions(col("partition"), col("event_id"))
      .write
      .option("maxRecordsPerFile", chunkMaxRecords)
      .partitionBy("partition")
      .parquet(tmp.toString)
    // manifest log aside BEFORE touching the log: a crash in the swap
    // then leaves readers listing the live log, never planning replaced
    // files, and the watermark readable from the aside
    if (!fs.rename(manifestDir(name), asideDir(name)))
      throw new java.io.IOException(s"compact: cannot move the manifest log aside")
    manifestCache.remove(name): Unit
    if (!fs.rename(log, old))
      throw new java.io.IOException(s"compact: cannot move live log aside: $log")
    if (!fs.rename(tmp, log)) {
      fs.rename(old, log): Unit // restore the live log before failing
      throw new java.io.IOException(s"compact: cannot install compacted log: $tmp")
    }
    fs.delete(old, true): Unit
    // every chunk file was replaced: the manifest is rebuilt from them
    recoverSwapLocked(name)
    // the rewrite's input had the vectors applied — they are folded now
    fs.delete(deletesDir(name), true): Unit
  }

  /** Finish a rewrite's swap (caller holds the compact lock). A missing
    * log is restored first: the moved-aside copy is then the ONLY one. The
    * moved-aside manifest log keeps the watermark ([[nextIds]]) until a
    * manifest rebuilt from the live log (pre- or post-rewrite, both hold
    * every committed id) lands past its seqs. Idempotent. */
  private def recoverSwapLocked(name: String): Unit = {
    val log = new Path(logPath(name))
    val old = new Path(topicPath(name), "log.compact.old")
    if (fs.exists(old) && !fs.exists(log) && !fs.rename(old, log))
      throw new java.io.IOException(s"cannot restore the log a crashed rewrite moved aside: $old")
    val aside = asideDir(name)
    if (fs.exists(aside)) {
      if (readManifest(name).isEmpty) {
        val (snaps, deltas) = scanManifestLogStatuses(aside)
        rebuildManifest(name, minSeq = ((snaps ++ deltas).map(_._1) :+ 0L).max)
      }
      fs.delete(aside, true): Unit
    }
  }

  // -- consumer cursors (D4) ------------------------------------------------

  /** Names that become path components (consumer names, sink ids) must not
    * traverse or collide with catalog files. */
  private def validComponent(kind: String, s: String): String = {
    if (s.isEmpty || !s.matches("[A-Za-z0-9_.-]+") || s == "." || s == "..")
      throw new IllegalArgumentException(
        s"Invalid $kind '$s': only [A-Za-z0-9_.-]+ allowed")
    s
  }

  private def cursorPath(topic: String, consumer: String): Path =
    new Path(new Path(topicPath(topic), "_cursors"),
      s"${validComponent("consumer name", consumer)}.json")

  /** Transaction-pending cursor floors (see [[stageTxnOffsets]]): pointer
    * files under the SOURCE topic's cursor dir, each naming the
    * transaction whose state holds the floors. `_`-prefixed so it can
    * never collide with a consumer name (dots are legal in those). */
  private def cursorPendDir(topic: String): Path =
    new Path(new Path(topicPath(topic), "_cursors"), "_txnpend")

  /** Cursor = first un-acknowledged EventID per partition (0 when absent).
    * Floors recorded by a COMMITTED transaction ([[stageTxnOffsets]])
    * resolve here — merged into the result and folded into the cursor
    * file (idempotent max-win), so the advance is visible from the
    * moment the transaction's state flips, pointer cleanup lagging
    * harmlessly. Open transactions' floors stay invisible; aborted ones
    * clean up. */
  def cursor(topic: String, consumer: String): Map[Int, Long] = {
    val base = cursorRaw(topic, consumer)
    val dir = cursorPendDir(topic)
    if (!fs.exists(dir)) return base
    var merged = base
    fs.listStatus(dir)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".json"))
      .foreach { s =>
        readStringResilient(s.getPath).foreach { json =>
          val (txnTopic, txnId) = Catalog.txnPointerFromJson(json)
          val st = try txnState(txnTopic, txnId)
            catch { case _: IllegalArgumentException => None }
          st.map(_.state) match {
            case Some("open") => () // undecided: not visible yet
            case Some("committed") =>
              val mine = st.get.offsets
                .filter(o => o.topic == topic && o.consumer == consumer)
              mine.foreach { o =>
                merged = o.floors.foldLeft(merged) { case (acc, (p, id)) =>
                  acc + (p -> math.max(acc.getOrElse(p, 0L), id + 1))
                }
              }
              // fold + clean, best-effort: the MERGED result is this
              // read's answer either way, and a cursor read must survive
              // a read-only filesystem (later reads just re-resolve).
              // EVERY consumer's floors for this topic fold before the
              // breadcrumb goes — removing it after folding only the
              // caller's would strand the others' (the commit's eager
              // apply may have crashed; this path is their heal too).
              // The delete is gated on RE-READING the cursor files and
              // confirming the floors are durably subsumed: the fold is
              // an unlocked read-modify-write, so a concurrent
              // acknowledge can overwrite it (whole-map last-writer-
              // wins) — with the pointer already gone that would lose a
              // committed floor permanently; kept, it just re-resolves.
              try {
                val all = st.get.offsets.filter(_.topic == topic)
                all.foreach(o => acknowledgeFloors(topic, o.consumer, o.floors))
                if (floorsSubsumed(topic, all))
                  fs.delete(s.getPath, false): Unit
              } catch { case scala.util.control.NonFatal(_) => () }
            case _ => // aborted, or its record purged: never applies
              try { fs.delete(s.getPath, false): Unit }
              catch { case scala.util.control.NonFatal(_) => () }
          }
        }
      }
    merged
  }

  /** Are these transaction floors subsumed by the CURRENT cursor files?
    * The pointer-delete gate shared by [[cursor]]'s lazy fold and
    * [[commitTxn]]'s eager apply: [[acknowledgeFloors]] is an unlocked
    * read-modify-write, so a concurrent plain acknowledge that read the
    * pre-fold cursor can overwrite a just-applied fold. Deleting the
    * pointer only after re-reading and confirming keeps the committed
    * floors DISCOVERABLE until they are durably in the cursor file — a
    * lost fold re-resolves on the next cursor read instead of vanishing.
    * (Exact under the Kafka exactly-once model, where a transactional
    * loop's sendOffsets is that consumer's only cursor writer; a rogue
    * concurrent acknowledge can still land between this check and the
    * delete, but then the regression is that writer's own lost-update
    * race, which pre-exists pointers entirely.) */
  private def floorsSubsumed(srcTopic: String, os: Seq[TxnOffsets]): Boolean =
    os.groupBy(_.consumer).forall { case (c, group) =>
      val cur = cursorRaw(srcTopic, c)
      group.forall(_.floors.forall { case (p, id) =>
        cur.getOrElse(p, 0L) >= id + 1 })
    }

  /** The cursor file alone, no transaction-pending resolution — the
    * read-modify-write base for [[acknowledgeFloors]] (which [[cursor]]'s
    * own fold calls: reading through `cursor` would recurse). */
  private def cursorRaw(topic: String, consumer: String): Map[Int, Long] =
    readStringResilient(cursorPath(topic, consumer))
      .map(Catalog.idMapFromJson).getOrElse(Map.empty)

  /** `acknowledge` stores event_id + 1
    * (`DefaultPartitionManager.cpp:506-514`). */
  def acknowledge(topic: String, consumer: String, partition: Int, eventId: Long): Unit =
    acknowledgeFloors(topic, consumer, Map(partition -> eventId))

  /** Batch form: raise `consumer`'s cursor to at least `eventId + 1` for
    * every (partition -> eventId) floor in ONE read-modify-write — a
    * group rebalance migrating many partitions costs one cursor-file
    * round trip per member, not one per partition (cursors only advance:
    * max wins, floors never regress). */
  def acknowledgeFloors(topic: String, consumer: String,
                        floors: Map[Int, Long]): Unit = {
    if (floors.isEmpty) return
    val cur = cursorRaw(topic, consumer)
    val merged = floors.foldLeft(cur) { case (acc, (p, id)) =>
      acc + (p -> math.max(acc.getOrElse(p, 0L), id + 1))
    }
    writeAtomic(cursorPath(topic, consumer), Catalog.idMapToJson(merged))
  }

  /**
   * Record consumer-cursor floors against an open transaction (see
   * [[TransactionalProducer.sendOffsets]]): the floors land in the
   * transaction's STATE (single source of truth, under the produce lock
   * like every other state write) and a pointer file lands under the
   * source topic's `_cursors/_txnpend/` so cursor reads can discover
   * them. Ordering: state first — the commit's eager apply works from
   * the state, so a crash between the two writes loses nothing (the
   * pointer is only the lazy-resolution breadcrumb).
   */
  private[engine] def stageTxnOffsets(name: String, txnId: String,
                                      sourceTopic: String, consumer: String,
                                      floors: Map[Int, Long]): Unit = {
    require(floors.nonEmpty, "sendOffsets: floors must be non-empty")
    if (!topicExists(sourceTopic)) throw new IllegalArgumentException(
      s"sendOffsets: unknown source topic '$sourceTopic'")
    validComponent("consumer name", consumer): Unit
    // brief metadata hold: ride the patience floor so routine
    // contention with concurrent-produce brief sections serializes
    acquireProduceLock(name, briefLockWaitMs)
    try {
      val st = txnState(name, txnId).getOrElse(throw new IllegalStateException(
        s"unknown transaction '$txnId' on topic '$name'"))
      if (st.state != "open") throw new IllegalStateException(
        s"transaction '$txnId' on topic '$name' is ${st.state}, not open")
      writeAtomic(txnPath(name, txnId), st.copy(offsets = st.offsets :+
        TxnOffsets(sourceTopic, consumer, floors)).toJson)
    } finally releaseProduceLock(name)
    FileCreate.mkdirs(fs, cursorPendDir(sourceTopic)): Unit
    writeAtomic(txnPointerPath(sourceTopic, name, txnId),
      Catalog.txnPointerJson(name, txnId))
  }

  /** One pointer per (source topic, transaction) — repeated sendOffsets
    * calls overwrite the same breadcrumb (the state holds the entries).
    * Content-hashed name: deterministic for cleanup, collision-free
    * whatever characters the topic/transaction names use.
    *
    * WAREHOUSE-FORMAT NOTE: the hash separator changed from ' ' to
    * backslash-u0000 in r14 (pre-release format change). Pointers written
    * by pre-change builds hash to a different name, so EAGER deletes
    * (commit, dropTopic) miss them — they are still cleaned up lazily via
    * the `_txnpend` directory listing, which deletes by LISTED path, so
    * the impact on an old warehouse is a one-time orphan re-resolution,
    * never data loss. */
  private def txnPointerPath(sourceTopic: String, txnTopic: String,
                             txnId: String): Path = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest((txnTopic + "\u0000" + txnId).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    new Path(cursorPendDir(sourceTopic), s"$h.json")
  }

  /**
   * Kafka `offsetsForTimes` + `seek` analog: position `consumer`'s cursor
   * at the earliest event whose `eventTime` is at/past `cutoff`, per
   * partition — replay-from-a-point-in-time. Partitions with no such event
   * seek to their produce watermark (nothing to re-read until newer data
   * lands). Unlike [[acknowledge]] (which only advances), seek moves the
   * cursor in EITHER direction — repositioning is the point. One
   * column-pruned pass over the log computes every partition's bound
   * (a tiny aggregate, same shape as time-based retention's).
   *
   * @return the cursor written: partition → first id the consumer will see
   */
  def seekToTime(topic: String, consumer: String,
                 eventTime: org.apache.spark.sql.Column,
                 cutoff: org.apache.spark.sql.Column): Map[Int, Long] = {
    val target = timeFloor(topic, eventTime, cutoff)
    writeAtomic(cursorPath(topic, consumer), Catalog.idMapToJson(target))
    target
  }

  /** Per-partition floor for time-based positioning: the earliest event_id
    * whose `eventTime` is at/past `cutoff`, or the produce watermark for
    * partitions with no such event. One column-pruned pass over the log —
    * shared by [[seekToTime]] and the streaming source's `startingTime*`
    * options (Kafka's `startingTimestamp` analog). */
  def timeFloor(topic: String, eventTime: org.apache.spark.sql.Column,
                cutoff: org.apache.spark.sql.Column): Map[Int, Long] = {
    import org.apache.spark.sql.functions.{col, min}
    val next = nextIds(topic)
    val bounds: Map[Int, Long] = fullLogDF(topic) match {
      case None => Map.empty
      case Some(df) => applyDeleteVectors(topic, df)
        // a vector-deleted event is unreadable — it must not become a
        // seek floor (the next SURVIVING event at/past the cutoff is)
        .filter(eventTime >= cutoff)
        .groupBy(col("partition")).agg(min(col("event_id")).as("lo"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    }
    next.map { case (p, wm) => p -> bounds.getOrElse(p, wm) }
  }

  // -- tiered storage (hot log + cold archive) ------------------------------

  private def tierPath(name: String): Path = new Path(topicPath(name), "_tier.json")

  /** The topic's cold-tier state, None when never archived (or restored). */
  def tierState(name: String): Option[TierState] =
    readStringResilient(tierPath(name)).map(TierState.fromJson)

  private def hasColdFiles(t: TierState): Boolean =
    t.files.nonEmpty || t.filesRef.isDefined

  def isTiered(name: String): Boolean = tierState(name).exists(hasColdFiles)

  /** The cold-tier file relation `(partition, path, lo, hi)` of a
    * parquet-backed tier state, None for driver-sized ones. The live cold
    * set is this relation PLUS `t.files` (entries archived since the roll). */
  def tierFilesRel(name: String,
                   t: TierState): Option[org.apache.spark.sql.DataFrame] =
    ChunkFiles.relation(spark, topicPath(name), t.filesRef)

  /** Persist tier state after an archive pass appended `newEntries`,
    * storing the full file list through [[ChunkFiles.store]] (past
    * [[Catalog.manifestDriverMax]] — the same threshold the manifest uses;
    * at scale the cold tier is the BIGGER list — a relation). Seq-named
    * relations are immutable; the superseded one is deleted after the JSON
    * commit. */
  private def writeTierState(name: String, root: String, prior: Option[TierState],
                             newEntries: Map[Int, Vector[ManifestFile]]): Unit = {
    val priorRef = prior.flatMap(_.filesRef)
    val priorSeq = priorRef.flatMap(r =>
      "_tier-files-(\\d+)\\.parquet".r.findFirstMatchIn(r).map(_.group(1).toLong))
      .getOrElse(0L)
    val (files, ref) = ChunkFiles.store(spark, topicPath(name),
      f"_tier-files-${priorSeq + 1}%020d.parquet",
      prior.flatMap(t => tierFilesRel(name, t)).toSeq,
      ChunkFiles.merge(prior.map(_.files).getOrElse(Map.empty), newEntries))
    writeAtomic(tierPath(name), TierState(root, files, ref).toJson)
    priorRef.foreach(r => fs.delete(new Path(topicPath(name), r), true): Unit)
  }

  private def deleteTierState(name: String): Unit = {
    tierState(name).flatMap(_.filesRef)
      .foreach(r => fs.delete(new Path(topicPath(name), r), true): Unit)
    fs.delete(tierPath(name), false): Unit
  }

  /** Cold-tier events as one DataFrame (raw stored form — callers decode
    * through the topic serializer like any log read), None when the topic
    * has no cold tier. The cold root keeps the hive `partition=p` layout,
    * so the partition column comes from directory discovery exactly like
    * the hot log's. */
  def coldEvents(name: String): Option[org.apache.spark.sql.DataFrame] =
    tierState(name).filter(hasColdFiles).map { t =>
      if (!t.shared)
        spark.read.schema(Catalog.EventSchema).parquet(t.coldRoot)
      else {
        // SHARED inventory (shallow clone): the entries point into the
        // SOURCE topic's directories, which keep growing — read exactly
        // the LISTED files, never the root. Whole-log surface, so
        // materializing the list is proportional to the read; one read
        // per base dir (the dir holding partition=N) keeps directory
        // partition inference working for entries under different roots
        // (a clone of a tiered source references hot AND cold files).
        val files = ChunkFiles.all(tierFilesRel(name, t), t.files)
          .valuesIterator.flatten.map(_.path).toSeq
        files.groupBy(p => new Path(p).getParent.getParent.toString)
          .map { case (base, fsq) =>
            spark.read.option("basePath", base)
              .schema(Catalog.EventSchema).parquet(fsq.toSeq: _*)
          }
          .reduce(_ unionByName _)
      }
    }

  /** The full log (hot ∪ cold) in raw stored form, None when no data was
    * ever written. Single definition shared by every whole-log read
    * (consumer view, time floors, id recovery, validator-evolution scan) —
    * a tiered topic must never lose its cold rows in ANY of them. */
  private[engine] def fullLogDF(name: String): Option[org.apache.spark.sql.DataFrame] = {
    val log = new Path(logPath(name))
    // read before the listing, which a commit may then outrun
    val committed = readManifest(name)
    val hot =
      if (fs.exists(log))
        Some(withoutUncommitted(name, committed,
          spark.read.schema(Catalog.EventSchema).parquet(log.toString)))
      else None
    (hot, coldEvents(name)) match {
      case (Some(h), Some(c)) => Some(h.unionByName(c))
      case (h, c) => h.orElse(c)
    }
  }

  /** `listing` (a read of the hot log) without the chunk files that
    * `committed` does not register and whose ids start at or above its
    * watermark: a crashed produce's debris until vacuum reaps it, or a
    * commit that landed after `committed` was read (left out whole, so the
    * read stays the view of one commit). With no manifest every listed
    * file is kept. */
  private def withoutUncommitted(name: String, committed: Option[TopicManifest],
                             listing: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.datasources.{
      HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
    val listed = listing.queryExecution.analyzed.collect {
      case LogicalRelation(HadoopFsRelation(i: PartitioningAwareFileIndex, _, _, _, _, _), _, _, _, _) =>
        i.allFiles().map(_.getPath)
    }.flatten
    def partitionOf(f: Path) = f.getParent.getName.stripPrefix("partition=").toIntOption.getOrElse(-1)
    val out = committed.fold(Set.empty[Path]) { m =>
      val byRel = listed.map(f => s"${f.getParent.getName}/${f.getName}" -> f).toMap
      val unknown = unregistered(name, m, byRel.toSeq.map { case (r, f) => partitionOf(f) -> r })
        .map(u => byRel(u._2))
      Catalog.footerRanges(unknown, hadoopConf).zip(unknown).collect {
        // a torn footer is debris too; a stats-less one cannot be judged
        case (range, f) if range.forall { case (lo, _) =>
          lo != Long.MinValue && lo >= m.watermarks.getOrElse(partitionOf(f), 0L) } => f
      }.toSet
    }
    val kept = listed.filterNot(out)
    if (out.isEmpty) listing
    else if (kept.isEmpty) listing.limit(0)
    else spark.read.schema(Catalog.EventSchema).option("basePath", logPath(name))
      .parquet(kept.map(_.toString): _*)
  }

  private[engine] def failIfTiered(name: String, op: String): Unit =
    if (isTiered(name)) throw new IllegalStateException(
      s"$op is not supported on tiered topic '$name' — restoreArchive() first " +
        "(log rewrites would strand or duplicate the cold tier)")

  /**
   * Tiered storage (Kafka tiered-storage / Iceberg-to-cheap-bucket analog):
   * move every committed chunk file whose footer id range sits entirely
   * below `cutoffId` into `coldRoot` (default `<topic>/cold`; any Hadoop
   * filesystem URI works — at 100 TB the point is an object-store root
   * while the hot tail stays on fast storage). Ids, content, and ordering
   * are untouched; every read surface (consumer view, streaming source,
   * DSv2 batch scan, indexed reads, time floors, id recovery) transparently
   * unions the two tiers. File moves are per-file renames (same fs) or
   * copy+delete (cross fs) of IMMUTABLE chunk files — crash-safe: a file
   * is recorded in `_tier.json` only after its move completes, and a
   * half-copied destination is overwritten on retry.
   *
   * Maintenance rewrites (compact/expire/delete/key-compact) refuse while
   * a cold tier exists — [[restoreArchive]] brings the files back first.
   * Runs under the compact lock, so a produce racing the archive fails its
   * commit loudly (same contract as [[compactTopic]]).
   */
  def archiveTopicBefore(name: String, cutoffId: Long,
                         coldRoot: String = ""): TierReport = {
    acquireCompactLock(name)
    try {
      val root =
        tierState(name).map(_.coldRoot).getOrElse {
          if (coldRoot.nonEmpty) coldRoot
          else new Path(topicPath(name), "cold").toString
        }
      require(coldRoot.isEmpty || tierState(name).forall(_.coldRoot == coldRoot),
        s"topic '$name' already has a cold tier at a different root")
      // a shallow clone's cold inventory points INTO the source topic —
      // archiving would move this topic's hot files next to files it does
      // not own; materialize first (restoreArchive copies them home)
      require(!tierState(name).exists(_.shared),
        s"topic '$name' is a shallow clone — restoreArchive() (materialize) " +
        "before archiving")
      // archiving MOVES hot chunk files — a live shallow clone references
      // them at their current absolute paths
      failIfLiveClones(name, "archiveTopicBefore")
      require(!new Path(root).toString.startsWith(new Path(logPath(name)).toString),
        "coldRoot must not be inside the hot log directory")
      // uncommitted orphans (a produce dead before its manifest commit)
      // must never reach the cold tier: purgeUncommitted is safe here
      // because failIfCompacting excludes produces while we hold the
      // compact lock, and the per-partition watermark cap below keeps any
      // orphan that appears regardless out of the move set — an archived
      // orphan's ids would be re-issued into the hot log and the cold
      // copy would duplicate them forever.
      purgeUncommitted(name)
      val watermarks = nextIds(name)
      if (readManifest(name).isEmpty) rebuildManifest(name)
      val m = readManifest(name).getOrElse(TopicManifest(Map.empty, Map.empty))
      val coldFs = new Path(root).getFileSystem(hadoopConf)
      var moved = 0
      var bytes = 0L
      val newEntries = scala.collection.mutable.Map.empty[Int, Vector[ManifestFile]]
      // cold candidates: parquet-backed manifests push the cutoff predicate
      // into the relation and collect only the files that will MOVE
      import org.apache.spark.sql.functions.col
      ChunkFiles.all(manifestFilesRel(name, m)
          .map(_.filter(col("hi") =!= Long.MaxValue && col("hi") < cutoffId)),
        m.files).foreach { case (p, entries) =>
        // committed data only: cap the cutoff at the partition's id
        // watermark so an uncommitted orphan can never be archived
        val eff = math.min(cutoffId, watermarks.getOrElse(p, 0L))
        entries.foreach { f =>
          // only files with real footer stats wholly below the cutoff move —
          // a stats-less file (hi = MaxValue) can never prove it is cold
          if (f.hi != Long.MaxValue && f.hi < eff) {
            val src = new Path(logPath(name), f.path)
            val dstDir = new Path(root, s"partition=$p")
            val dst = new Path(dstDir, src.getName)
            FileCreate.mkdirs(coldFs, dstDir)
            // CRASH-RESUMABLE: a prior archive attempt that died before its
            // tier-state write left this file already at dst — record it
            // and move on instead of throwing on the missing src (the
            // retry is how a wedged half-archive heals)
            if (!fs.exists(src) && coldFs.exists(dst)) {
              moved += 1
              bytes += coldFs.getFileStatus(dst).getLen
              newEntries(p) = newEntries.getOrElse(p, Vector.empty) :+
                ManifestFile(dst.toString, f.lo, f.hi)
            } else {
              val len = fs.getFileStatus(src).getLen
              val sameFs = fs.getUri == coldFs.getUri
              val ok =
                if (sameFs) { coldFs.delete(dst, false); fs.rename(src, dst) }
                else org.apache.hadoop.fs.FileUtil.copy(fs, src, coldFs, dst, true,
                  true, hadoopConf)
              if (!ok) throw new java.io.IOException(s"archive: cannot move $src -> $dst")
              moved += 1
              bytes += len
              newEntries(p) = newEntries.getOrElse(p, Vector.empty) :+
                ManifestFile(dst.toString, f.lo, f.hi)
            }
          }
        }
      }
      if (moved > 0) {
        writeTierState(name, root, tierState(name), newEntries.toMap)
        // the hot manifest must stop listing the moved files
        rebuildManifest(name)
      }
      TierReport(moved, bytes)
    } finally releaseCompactLock(name)
  }

  /** Undo [[archiveTopicBefore]]: move every cold file back into the hot
    * log and drop the tier state — after this, maintenance rewrites are
    * allowed again. Returns the number of files restored. */
  def restoreArchive(name: String): Int = {
    acquireCompactLock(name)
    try tierState(name) match {
      case None => 0
      case Some(t) =>
        // restoring a NON-shared tier MOVES cold files home — live shallow
        // clones reference them where they are. (A shared inventory — the
        // clone-materialize path — only copies, so it stays allowed.)
        if (!t.shared) failIfLiveClones(name, "restoreArchive")
        val coldFs = new Path(t.coldRoot).getFileSystem(hadoopConf)
        var moved = 0
        // materializing here is proportional to the work: every entry is a
        // file move (maintenance surface, not a planner)
        ChunkFiles.all(tierFilesRel(name, t), t.files).foreach { case (p, entries) =>
          entries.foreach { f =>
            val src = new Path(f.path)
            val dstDir = new Path(logPath(name), s"partition=$p")
            val dst = new Path(dstDir, src.getName)
            // CRASH-RESUMABLE: a prior restore attempt that died before
            // dropping the tier state already brought this file home —
            // skip it; a dst that exists WHILE the cold copy also exists
            // is a real conflict and stays loud. SHARED inventories
            // (shallow clones) COPY without touching the source, so there
            // the source always still exists and dst-exists means resume —
            // but only a COMPLETE dst (length equal): a copy that died
            // mid-file leaves a truncated parquet, and trusting it would
            // commit corruption into the rebuilt manifest. Short ones are
            // deleted and re-copied.
            lazy val dstComplete =
              fs.getFileStatus(dst).getLen == coldFs.getFileStatus(src).getLen
            if (fs.exists(dst) && t.shared && !dstComplete) {
              fs.delete(dst, false): Unit
            }
            if (fs.exists(dst) && (t.shared || !coldFs.exists(src))) {
              moved += 1
            } else if (fs.exists(dst)) {
              throw new java.io.IOException(
                s"restore: hot file already exists: $dst")
            } else {
              FileCreate.mkdirs(fs, dstDir)
              val sameFs = fs.getUri == coldFs.getUri
              val ok =
                if (sameFs && !t.shared) fs.rename(src, dst)
                else org.apache.hadoop.fs.FileUtil.copy(coldFs, src, fs, dst,
                  !t.shared, true, hadoopConf)
              if (!ok) throw new java.io.IOException(s"restore: cannot move $src -> $dst")
              moved += 1
            }
          }
        }
        deleteTierState(name)
        rebuildManifest(name)
        moved
    } finally releaseCompactLock(name)
  }

  /**
   * SHALLOW CLONE (the Delta `CREATE TABLE ... SHALLOW CLONE` analog): a
   * new topic whose committed history IS the source's files, copied by
   * REFERENCE — O(metadata) work and zero data bytes moved, so cloning a
   * 100 TB topic for an experiment costs what one manifest write costs.
   *
   * Mechanics (all existing machinery):
   *  - the clone's file inventory is a `shared` cold-tier state pointing
   *    at the source's chunk files (absolute paths — the planner already
   *    reads cold entries in place); past the driver threshold it rolls
   *    into a parquet relation exactly like any big tier list, built as a
   *    Spark union of the source's manifest/tier relations — nothing
   *    O(files) materializes on the driver;
   *  - watermark and manifest: the clone commits ONE snapshot carrying the
   *    source's committed id frontier (its version-1 commit); ids continue
   *    densely from there, so produces into the clone work immediately;
   *  - deletion vectors: copied (they are O(deleted), not O(data)) — the
   *    clone sees the source's deletes as of the clone, and later deletes
   *    on either side stay isolated;
   *  - the id-gap marker is inherited (gaps are a property of the data).
   *
   * Isolation and honest limits: produces/deletes/maintenance on either
   * side never affect the other — EXCEPT physical file deletion on the
   * source (compact/deleteWhere/expire/vacuum rewrite or remove chunk
   * files the clone references), the same caveat as Delta's VACUUM vs
   * shallow clones. `restoreArchive()` on the clone MATERIALIZES it
   * (copies the shared files home without touching the source, then
   * rebuilds the manifest) — the lazy path to a deep clone; archiving a
   * still-shallow clone refuses. Runs under the SOURCE's compact lock so
   * a concurrent rewrite cannot delete files between inventory read and
   * commit; concurrent produces are safe (a committed manifest's files
   * are immutable — the clone just pins that commit).
   */
  // -- shallow-clone registry -------------------------------------------

  private def clonesDir(name: String): Path = new Path(topicPath(name), "_clones")

  /** Clones registered against `name` that are still LIVE (exist and are
    * still shallow). Registrations of materialized or dropped clones are
    * pruned here lazily — no cleanup hook needed on the clone side, and a
    * stale entry can never block forever. Liveness deliberately does NOT
    * match the clone's coldRoot back to `name`: a clone-of-a-clone
    * references the ORIGINAL topic's chunk files while its tier state
    * points at its immediate parent, and it registers on both. */
  def liveClones(name: String): Seq[String] = {
    val dir = clonesDir(name)
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".json"))
      .flatMap { st =>
        val clone = st.getPath.getName.stripSuffix(".json")
        if (topicExists(clone) && tierState(clone).exists(_.shared)) Some(clone)
        else { fs.delete(st.getPath, false): Unit; None }
      }.toSeq.sorted
  }

  /** Physical file deletion/moves on a topic with live shallow clones
    * would break the clones LATER (missing-file read errors long after
    * the operation) — refuse LOUDLY up front instead, naming the clones
    * and the escape hatches. `spark.graft.clone.force=true` is the
    * explicit break-my-clones override. (The reference has no sharing —
    * topics own their chunk files exclusively,
    * `DefaultPartitionManager.cpp:104-120`; sharing is this engine's
    * extension, so this safety contract closes it.) */
  private[engine] def failIfLiveClones(name: String, op: String): Unit = {
    if (spark.conf.getOption("spark.graft.clone.force")
          .exists(_.equalsIgnoreCase("true"))) return
    val live = liveClones(name)
    if (live.nonEmpty) throw new IllegalStateException(
      s"$op on topic '$name' would delete or move chunk files still " +
      s"referenced by live shallow clone(s) ${live.mkString("'", "', '", "'")} — " +
      "materialize them first (restoreArchive() on each clone), drop them, " +
      "or set spark.graft.clone.force=true to proceed and break them")
  }

  def cloneTopic(src: String, dst: String): Unit = {
    val cfg = openTopic(src)
    if (topicExists(dst)) throw new IllegalStateException("Topic already exists")
    acquireCompactLock(src)
    try {
      val m = readManifest(src)
      // a source with data but no manifest log (lost manifest) has nothing
      // to clone from — refusing beats silently committing an EMPTY clone
      // at watermark 0
      if (m.isEmpty && nextIds(src).values.exists(_ > 0L))
        throw new IllegalStateException(
          s"topic '$src' has data but no manifest log — run rebuildManifest " +
          "(or produce once) to restore it before cloning")
      createTopic(cfg.copy(name = dst))
      val wm: Map[Int, Long] = m.map(_.watermarks).getOrElse(
        (0 until cfg.partitions).map(_ -> 0L).toMap)
      val srcLogQ = fs.makeQualified(new Path(logPath(src))).toString
      def absHot(f: ManifestFile): ManifestFile =
        f.copy(path = new Path(srcLogQ, f.path).toString)
      val tier = tierState(src)
      // the source's relations (hot paths made absolute) ∪ its driver-held
      // tails (bounded: post-snapshot deltas / post-roll adds); a big source
      // gives the clone a relation-backed inventory from day one
      val rels: Seq[org.apache.spark.sql.DataFrame] =
        m.flatMap(manifestFilesRel(src, _)).map { rel =>
          import org.apache.spark.sql.functions.{col, concat, lit}
          rel.withColumn("path", concat(lit(srcLogQ + "/"), col("path")))
        }.toSeq ++ tier.flatMap(tierFilesRel(src, _)).toSeq
      val (files, ref) = ChunkFiles.store(spark, topicPath(dst), "_tier-files-1.parquet",
        rels, ChunkFiles.merge(
          m.map(_.files).getOrElse(Map.empty).view.mapValues(_.map(absHot)).toMap,
          tier.map(_.files).getOrElse(Map.empty)))
      writeAtomic(tierPath(dst),
        TierState(topicPath(src).toString, files, ref, shared = true).toJson)
      writeAtomic(new Path(manifestDir(dst), seqFileName("snap", 1L)),
        TopicManifest(wm, Map.empty).toJson)
      // deletion vectors: O(deleted) small parquet files — copy, don't share
      // (each side's future deletes must stay its own). Copied roots are
      // RE-TAGGED to the clone's birth commit (`v1`): the source's embedded
      // seq means nothing in the clone's history (it would silently drop
      // or, worse, attribute these deletes to an unrelated future clone
      // commit with the same number), while v1 says exactly what happened —
      // the clone was born with these rows already deleted, so a change
      // feed spanning its birth replays raw inserts AND these preimages,
      // reproducing the cloned state.
      // copy the LIVE, replica-deduped roots only (the one supersession
      // rule, dedupedVectorSources): fold-superseded marked inputs would
      // be dead bytes in the clone, and a crashed fold's unmarked leftover
      // must not ride along — the clone drops fold sidecars (source-topic
      // versions mean nothing in its history), so a copied replica could
      // never be re-recognized there and would double-emit forever
      dedupedVectorSources(src).map(_._1).distinct.foreach { rootStr =>
        val rootPath = new Path(rootStr)
        val n = rootPath.getName
        val parts = n.split('-')
        val retagged =
          if (parts.length >= 3 && parts(0) == "d" && parts(2).startsWith("v"))
            (Seq(parts(0), parts(1), "v1") ++ parts.drop(3)).mkString("-")
          else if (parts.length >= 2 && parts(0) == "d")
            (Seq(parts(0), parts(1), "v1") ++ parts.drop(2)).mkString("-")
          else n
        val dstRoot = new Path(deletesDir(dst), retagged)
        org.apache.hadoop.fs.FileUtil.copy(fs, rootPath, fs,
          dstRoot, false, true, hadoopConf): Unit
        // a copied FOLD root's sidecar carries SOURCE-topic versions —
        // drop it, so the root attributes as a plain v1 root like every
        // other copy (the per-row _v/_ms columns are inert without it)
        fs.delete(new Path(dstRoot, "_sources.json"), false): Unit
        // a copied marker would hide the root from the CLONE's listings
        fs.delete(new Path(dstRoot, Catalog.FoldedMarker), false): Unit
      }
      if (mayHaveIdGaps(src)) markIdGaps(dst)
      // register the clone with its source AND every transitive ancestor
      // up the shared-inventory chain — a clone-of-a-clone holds absolute
      // paths into the ORIGINAL topic's log (inherited through each hop),
      // and materializing the middle hops must not unguard the origin
      val reg = JsonMethods.compact(JsonMethods.render(JObject(
        "path" -> JString(topicPath(dst).toString),
        "ms" -> JLong(System.currentTimeMillis()))))
      writeAtomic(new Path(clonesDir(src), s"$dst.json"), reg)
      var ancestor = tier.filter(_.shared).map(_.coldRoot)
      var depth = 0
      while (ancestor.isDefined && depth < 64) {
        val root = new Path(ancestor.get)
        writeAtomic(new Path(root, s"_clones/$dst.json"), reg)
        ancestor = readStringResilient(new Path(root, "_tier.json"))
          .map(TierState.fromJson).filter(_.shared).map(_.coldRoot)
        depth += 1
      }
      manifestCache.remove(dst): Unit
    } finally releaseCompactLock(src)
  }

  // -- transactions + idempotent-producer state (see Transactions.scala) ----

  private def txnDir(name: String): Path = new Path(topicPath(name), "_txns")
  private def txnPath(name: String, txnId: String): Path =
    new Path(txnDir(name), s"${validComponent("transaction id", txnId)}.json")

  /** Open a new transaction (fails on any existing id — committed and
    * aborted transaction ids are terminal, so a crashed application can
    * never silently fold new produces into an old outcome). */
  def beginTxn(name: String, txnId: String): Unit = {
    // brief metadata hold: ride the patience floor so routine
    // contention with concurrent-produce brief sections serializes
    acquireProduceLock(name, briefLockWaitMs)
    try {
      if (txnState(name, txnId).isDefined) throw new IllegalStateException(
        s"transaction '$txnId' already exists on topic '$name'")
      FileCreate.mkdirs(fs, txnDir(name))
      writeAtomic(txnPath(name, txnId), TxnState("open", Vector.empty).toJson)
    } finally releaseProduceLock(name)
  }

  def txnState(name: String, txnId: String): Option[TxnState] =
    readStringResilient(txnPath(name, txnId)).map(TxnState.fromJson)

  /** All transactions of a topic (small: one file per transaction). */
  def listTxns(name: String): Map[String, TxnState] = {
    val dir = txnDir(name)
    if (!fs.exists(dir)) Map.empty
    else fs.listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".json") &&
        !s.getPath.getName.startsWith("."))
      .flatMap(s => readStringResilient(s.getPath) // lock-free readers ride
        .map(j => s.getPath.getName.stripSuffix(".json") -> TxnState.fromJson(j)))
      .toMap
  }

  /** Record a produce's id ranges against an open transaction — called as
    * the produce's pre-commit intent (caller holds the produce lock). */
  private[engine] def appendTxnRanges(name: String, txnId: String,
                                      ranges: Map[Int, (Long, Long)]): Unit = {
    val st = txnState(name, txnId).getOrElse(throw new IllegalStateException(
      s"unknown transaction '$txnId' on topic '$name'"))
    require(st.state == "open", s"transaction '$txnId' is ${st.state}")
    writeAtomic(txnPath(name, txnId),
      st.copy(ranges = st.ranges ++ TxnRange.toRanges(ranges)).toJson)
  }

  /**
   * Commit: one atomic metadata write; reconciles first so a crashed
   * produce's phantom intent can never be committed as data.
   *
   * A transaction with staged DELETES ([[stageTxnDelete]]) first promotes
   * each staging to a GATED `d-*` root under the compact lock
   * ([[rootTxnDeletes]] — the roots carry a `_txn` marker and stay
   * invisible to every listing), then flips the state: the flip is the
   * ONE visibility point at which the produces' id ranges and the
   * deletes' vector roots appear together. A crash between the two
   * phases leaves the transaction open with rooted-but-gated vectors —
   * retrying this commit resumes idempotently (already-rooted stagings
   * are skipped), and the CDF frontier holds below the gated roots'
   * noted commits until the transaction decides
   * ([[GraftMicroBatchStream.cdfFrontier]] via [[cdfVectorRootProbe]]).
   */
  def commitTxn(name: String, txnId: String): Unit = {
    // Root-then-verify-flip loop. The rooting (compact lock) and the flip
    // (produce lock) can never nest, so a deleteWhere racing this commit
    // can adopt a NEW staging between the snapshot we rooted and the
    // flip; flipping anyway would commit a delete that was never promoted
    // — deleteWhere returned a nonzero count but the deletion silently
    // never happens (its staging reaped by vacuum past the horizon). The
    // flip therefore verifies the CURRENT staged set equals the rooted
    // snapshot and loops to root the extras otherwise (rootTxnDeletes is
    // idempotent — re-rooting the already-promoted prefix is a lookup).
    var flipped: Option[(TxnState, Vector[String])] = None
    var attempts = 0
    while (flipped.isEmpty) {
      attempts += 1
      val st = txnState(name, txnId).getOrElse(throw new IllegalStateException(
        s"unknown transaction '$txnId' on topic '$name'"))
      if (st.state != "open") throw new IllegalStateException(
        s"transaction '$txnId' on topic '$name' is ${st.state}, not open")
      val rooted =
        if (st.deletes.nonEmpty) rootTxnDeletes(name, txnId, st.deletes)
        else Vector.empty[String]
      // brief metadata hold: ride the patience floor so routine
      // contention with concurrent-produce brief sections serializes
      acquireProduceLock(name, briefLockWaitMs)
      try {
        reconcileProduceState(name): Unit
        val cur = txnState(name, txnId).getOrElse(throw new IllegalStateException(
          s"unknown transaction '$txnId' on topic '$name'"))
        if (cur.state != "open") throw new IllegalStateException(
          s"transaction '$txnId' on topic '$name' is ${cur.state}, not open")
        if (cur.deletes.map(_.suffix) == st.deletes.map(_.suffix)) {
          writeAtomic(txnPath(name, txnId), cur.copy(state = "committed").toJson)
          flipped = Some((cur, rooted))
        } else if (attempts >= 5) throw new IllegalStateException(
          s"commitTxn('$name', '$txnId'): staged deletes kept changing " +
          s"across $attempts rooting attempts — statements are racing this " +
          "commit. A transaction handle is single-threaded (like a Kafka " +
          "producer); serialize its statements and retry the commit.")
      } finally releaseProduceLock(name)
    }
    val (committedSt, rooted) = flipped.get
    // eager un-gate (best effort — every listing also un-gates lazily):
    // later reads skip the per-root transaction-state lookup
    rooted.foreach { r =>
      try { fs.delete(new Path(new Path(r), Catalog.TxnGateMarker), false): Unit }
      catch { case scala.util.control.NonFatal(_) => () }
    }
    // eager cursor-floor apply + pointer cleanup (best effort — cursor
    // reads resolve and fold lazily from the committed state either way).
    // Grouped by source topic: the pointer is per (topic, transaction),
    // so EVERY consumer's floors for that topic must apply — and re-read
    // as subsumed — before the breadcrumb goes (see [[floorsSubsumed]]).
    committedSt.offsets.groupBy(_.topic).foreach { case (srcTopic, os) =>
      try {
        os.foreach(o => acknowledgeFloors(srcTopic, o.consumer, o.floors))
        if (floorsSubsumed(srcTopic, os))
          fs.delete(txnPointerPath(srcTopic, name, txnId), false): Unit
      } catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  def abortTxn(name: String, txnId: String): Unit = {
    setTxnState(name, txnId, "aborted")
    // reclaim the transaction's STAGINGS. No lock needed: the gate fails
    // closed, so no reader ever listed these, and folds skip gated roots.
    // Already-ROOTED vectors (a commit that crashed mid-rooting, then
    // aborted) are kept deliberately: the aborted gate is the EVIDENCE
    // the CDF frontier needs to stop holding below their noted commits
    // immediately (reaping it would stall every change stream for the
    // full in-flight horizon) — vacuum reaps them once aged, and
    // [[TopicHandle.purgeAborted]] reclaims eagerly (an explicit purge
    // accepts the horizon wait).
    txnState(name, txnId).foreach { st =>
      reapTxnDeletes(name, st, includeRooted = false)
      // pending cursor pointers never apply — clean eagerly (cursor reads
      // resolving a stale one see the aborted state and clean it too)
      st.offsets.foreach { o =>
        try { fs.delete(txnPointerPath(o.topic, name, txnId), false): Unit }
        catch { case scala.util.control.NonFatal(_) => () }
      }
    }
  }

  /** Physically remove a decided-dead transaction's delete stagings (and,
    * with `includeRooted`, its gated roots — see [[abortTxn]] for why the
    * abort path keeps them). */
  private[engine] def reapTxnDeletes(name: String, st: TxnState,
                                     includeRooted: Boolean = true): Unit =
    st.deletes.foreach { d =>
      try {
        fs.delete(new Path(d.staged), true): Unit
        if (includeRooted) txnRootsBySuffix(name).get(d.suffix)
          .foreach(p => fs.delete(new Path(p), true): Unit)
      } catch { case scala.util.control.NonFatal(_) => () }
    }

  /** `d-*` roots keyed by their trailing staging suffix — the commit
    * retry's "already promoted?" lookup (root names are
    * `d-<ms>-v<ver>-<suffix>`; suffixes are dash-free, so the last
    * segment is the suffix). */
  private def txnRootsBySuffix(name: String): Map[String, String] = {
    val dir = deletesDir(name)
    if (!fs.exists(dir)) Map.empty
    else fs.listStatus(dir)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("d-"))
      .map { s =>
        val n = s.getPath.getName
        n.substring(n.lastIndexOf('-') + 1) -> s.getPath.toString
      }.toMap
  }

  /**
   * Stage one in-transaction DELETE statement (see
   * [[TransactionalProducer.deleteWhere]]): match `cond` NOW — against
   * the vector-applied log minus every OTHER live transaction's rows
   * (snapshot + own writes: this transaction's own produced rows ARE
   * deletable, the upsert-txn shape) and minus rows this transaction
   * already staged (keeps eventual roots disjoint, so
   * [[deletedCountsByPartition]] stays exact) — write the matched ids as
   * a never-listed `txn-<suffix>` staging under `_deletes/` with the
   * `_txn` gate marker already inside (the commit's rename carries it
   * along), and record the staging in the transaction's state.
   *
   * Nothing becomes visible here: no gap marker, no manifest note, no
   * `d-*` root. The commit owns the entire publish ceremony
   * ([[rootTxnDeletes]]), re-checking `plannedVersion` first.
   */
  private[engine] def stageTxnDelete(name: String, txnId: String,
                                     cond: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    // statement-entry lease touch, uniform with produce/produceTo: an
    // already-expired lease fences here, a fresh one extends. Taken and
    // released BEFORE the compact lock (the two never nest). The long
    // match/write window below runs with the produce lock free, so a
    // concurrent detector CAN expire the transaction mid-statement —
    // then the adoption under the produce lock fails loudly and deletes
    // the fresh staging: a loud statement failure, never corruption.
    touchTxn(name, txnId)
    val (staged, n, planned) = {
      acquireCompactLock(name) // stable log: serialize vs rewrites/folds
      try {
        val st = txnState(name, txnId).getOrElse(throw new IllegalStateException(
          s"unknown transaction '$txnId' on topic '$name'"))
        if (st.state != "open") throw new IllegalStateException(
          s"transaction '$txnId' on topic '$name' is ${st.state}, not open")
        val base = fullLogDF(name) match {
          case None => return 0L
          case Some(df) => applyDeleteVectors(name, df)
        }
        // visibility of the match = committed rows + own produced rows.
        // "Every OTHER live transaction" includes REMOTE shares (rows
        // produced into this topic by another topic's transaction via
        // produceTo): matching one while its coordinator is still open
        // would stage a delete that surfaces already-vectored rows when
        // that coordinator later commits — silent row loss, and produce
        // commits never run the removal conflict check that would catch
        // it. Aborted/purged-coordinator shares are excluded too (their
        // rows are never visible; deleting them is purgeAborted's job).
        val foreign = (listTxns(name)
          .filter { case (id, t) => id != txnId && t.state != "committed" }
          .values.flatMap(_.ranges) ++
          listRemoteTxns(name).values
            .filter(r => !coordState(r).contains("committed"))
            .flatMap(_.ranges)).filter(_.count > 0L).toSeq
        val visible =
          if (foreign.isEmpty) base
          else base.filter(!foreign.map(r =>
            col("partition") === r.partition &&
              col("event_id") >= r.first &&
              col("event_id") < r.first + r.count).reduce(_ || _))
        // a commit that crashed between rooting and flip renamed a
        // staging to its (gated) `d-*` root — the same relation lives at
        // whichever path exists, so later statements keep deduping
        // against it (the retry's verify-flip loop re-roots idempotently)
        lazy val rootedBySuffix = txnRootsBySuffix(name)
        val own = st.deletes
          .map { d =>
            val path =
              if (fs.exists(new Path(d.staged))) d.staged
              else rootedBySuffix.getOrElse(d.suffix,
                throw new IllegalStateException(
                  s"topic '$name': transaction '$txnId' staged delete " +
                  s"'${d.suffix}' no longer exists — a log rewrite " +
                  "(compact/expire/purge) cleared the staging. Abort the " +
                  "transaction and re-run it against the current state."))
            spark.read.schema(Catalog.DeleteSchema).parquet(path)
          }
          .reduceOption(_.unionByName(_))
        val dedup = own match {
          case None => visible
          case Some(o) => visible.join(o, Seq("partition", "event_id"), "left_anti")
        }
        val matched = dedup.filter(coalesce(cond, lit(false)))
          .select(col("partition"), col("event_id"))
        val dir = deletesDir(name)
        FileCreate.mkdirs(fs, dir): Unit
        // dash-free suffix: the root name's last segment must BE the
        // suffix (see txnRootsBySuffix)
        val suffix = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
        val stagedPath = new Path(dir, s"txn-$suffix")
        // same layout as committed roots — the rename at commit is the
        // entire promotion (directory-partitioned, ids sorted within)
        matched.repartition(col("partition"))
          .sortWithinPartitions(col("event_id"))
          .write.partitionBy("partition").parquet(stagedPath.toString)
        val count = spark.read.schema(Catalog.DeleteSchema)
          .parquet(stagedPath.toString).count()
        if (count == 0L) { fs.delete(stagedPath, true): Unit; return 0L }
        writeAtomic(new Path(stagedPath, Catalog.TxnGateMarker), txnId)
        val planned = versionHistory(name).lastOption.map(_.version).getOrElse(-1L)
        (stagedPath, count, planned)
      } finally releaseCompactLock(name)
    }
    // adopt the staging into the transaction's state under the produce
    // lock (the lock every other writer of this file holds; the compact
    // lock must be released first — the two never nest). A crash in
    // between leaves an unadopted `txn-` staging: never read, reaped by
    // vacuum once aged.
    // brief metadata hold: ride the patience floor so routine
    // contention with concurrent-produce brief sections serializes
    acquireProduceLock(name, briefLockWaitMs)
    try {
      val st = txnState(name, txnId).getOrElse(throw new IllegalStateException(
        s"unknown transaction '$txnId' on topic '$name'"))
      if (st.state != "open") {
        fs.delete(staged, true): Unit
        throw new IllegalStateException(
          s"transaction '$txnId' on topic '$name' is ${st.state}, not open")
      }
      writeAtomic(txnPath(name, txnId), st.copy(deletes = st.deletes :+
        TxnDelete(staged.toString, staged.getName.stripPrefix("txn-"),
          n, planned)).toJson)
      n
    } finally releaseProduceLock(name)
  }

  /**
   * Phase A of a multi-statement commit: promote each staged transaction
   * delete to a GATED `d-*` root under the compact lock — conflict check
   * first (strictest planned version wins; own gated roots exempt), then
   * per staging the standard vector publish ceremony (gap marker, noted
   * manifest commit, rename) minus visibility: the `_txn` marker rides
   * the rename, so the roots stay invisible until the caller's state
   * flip. Idempotent — a commit retry after a crash skips stagings whose
   * roots already exist. Returns every rooted path (new and pre-existing).
   */
  private[graft] def rootTxnDeletes(name: String, txnId: String,
                                    deletes: Vector[TxnDelete]): Vector[String] = {
    acquireCompactLock(name)
    try {
      val existing = txnRootsBySuffix(name)
      val pending = deletes.filterNot(d => existing.contains(d.suffix))
      val already = deletes.flatMap(d => existing.get(d.suffix))
      if (pending.isEmpty) return already
      pending.foreach { d =>
        if (!fs.exists(new Path(d.staged))) throw new IllegalStateException(
          s"topic '$name': transaction '$txnId' staged delete " +
          s"'${d.suffix}' no longer exists — a log rewrite " +
          "(compact/expire/purge) cleared the staging. Abort the " +
          "transaction and re-run it against the current state.")
      }
      failOnRowRemovalSince(name, pending.map(_.plannedVersion).min,
        exemptTxn = Some(txnId))
      // gap marker before any root can ever become visible — same
      // ordering contract as commitVectorsLocked
      markIdGaps(name)
      val rooted = Vector.newBuilder[String]
      rooted ++= already
      pending.foreach { d =>
        updateManifest(name, nextIds(name), note = Some(Catalog.DeleteVectorNote))
        val version = versionHistory(name).lastOption.map(_.version).getOrElse(0L)
        val committed = new Path(deletesDir(name),
          s"d-${System.currentTimeMillis()}-v$version-${d.suffix}")
        if (!fs.rename(new Path(d.staged), committed))
          throw new java.io.IOException(
            s"commitTxn: cannot promote staged delete ${d.staged}")
        rooted += committed.toString
      }
      rooted.result()
    } finally releaseCompactLock(name)
  }

  private def setTxnState(name: String, txnId: String, target: String): Unit = {
    // brief metadata hold: ride the patience floor so routine
    // contention with concurrent-produce brief sections serializes
    acquireProduceLock(name, briefLockWaitMs)
    try {
      reconcileProduceState(name): Unit
      val st = txnState(name, txnId).getOrElse(throw new IllegalStateException(
        s"unknown transaction '$txnId' on topic '$name'"))
      if (st.state != "open") throw new IllegalStateException(
        s"transaction '$txnId' on topic '$name' is ${st.state}, not open")
      writeAtomic(txnPath(name, txnId), st.copy(state = target).toJson)
    } finally releaseProduceLock(name)
  }

  /** Delete an ABORTED transaction's record (purgeAborted's cleanup).
    * Only aborted: the cross-topic design reads a MISSING coordinator
    * record as "aborted and purged" ([[coordState]]), so removing a
    * committed record would turn its remote rows elsewhere into
    * purgeable dead data — committed coordinator records are permanent
    * (and [[dropTopic]] folds outstanding shares before a coordinator
    * topic can disappear). Open records are live by definition. */
  private[engine] def removeTxn(name: String, txnId: String): Unit = {
    txnState(name, txnId).foreach { st =>
      require(st.state == "aborted",
        s"cannot remove ${st.state} transaction '$txnId' — only aborted " +
        "records are removable (a missing record reads as aborted)")
      fs.delete(txnPath(name, txnId), false): Unit
    }
  }

  /** [[listTxns]] plus each record's state-file mtime (the lease-age
    * base) — the [[TopicHandle.transactions]] admin listing. */
  private[engine] def listTxnsWithMtime(name: String): Map[String, (TxnState, Long)] =
    listTxnFiles(name).map { case (id, _, mtime, st) => id -> (st, mtime) }.toMap

  /** The transaction liveness horizon (`spark.graft.txn.timeoutMs`, the
    * Kafka `transaction.timeout.ms` analog) — see
    * [[abortExpiredTxnsLocked]]. `<= 0` disables the gate. */
  private[engine] def txnTimeoutMs: Long =
    conf("spark.graft.txn.timeoutMs",
      Catalog.TxnTimeoutMsDefault.toString).toLong

  /** One `_txns` listing with paths and mtimes — shared by
    * [[reconcileProduceState]]'s truncation and expiry passes, which the
    * produce path pays on EVERY entry (at object-store scale a listing
    * is a round trip; two per entry for one directory is one too many). */
  private def listTxnFiles(name: String)
      : Seq[(String, Path, Long, TxnState)] = {
    val dir = txnDir(name)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".json") &&
        !s.getPath.getName.startsWith("."))
      .flatMap(s => readStringResilient(s.getPath).map(j => // lock-free readers ride
        (s.getPath.getName.stripSuffix(".json"), s.getPath,
          s.getModificationTime, TxnState.fromJson(j))))
  }

  /**
   * The expiry pass: auto-abort every ABANDONED open transaction —
   * state-file age beyond [[txnTimeoutMs]] (caller holds the produce
   * lock). Without this, a client that crashed between `begin` and
   * `commit`/`abort` wedges every `read_committed` reader forever: batch
   * plans exclude its ranges and the streaming last-stable-offset clamp
   * holds at its first id ([[graft.streaming.GraftMicroBatchStream]]),
   * with manual intervention the only release. Kafka's coordinator
   * proactively aborts on `transaction.timeout.ms`; this is the same
   * lease, measured on the state file's mtime — every statement entry
   * refreshes it (begin, each produce's range intent + end-of-statement
   * touch, `sendOffsets`, `deleteWhere`,
   * [[TransactionalProducer.heartbeat]]), so only a transaction nobody
   * is driving can expire. Runs ONLY inside [[reconcileProduceState]]
   * (every write-path entry, and [[maintainTopic]]'s janitor calls the
   * full reconcile) — never bare: expiry must follow the phantom-tail
   * truncation pass, or a crashed produce's never-issued ids would
   * freeze as decided-dead and exclude their eventual re-issue. The
   * abort is the standard one — stagings reaped, cursor pointers
   * cleaned, ranges decided-dead — so clamped streams release at their
   * next trigger. `freshlyWritten` names transactions THIS entry just
   * rewrote (the truncation pass): their lease is fresh by construction
   * and the listed state/mtime are stale — skip them this pass.
   *
   * CLOCKS: the expiry judgment is store-clock vs store-clock — the
   * state file's mtime against a just-written probe file's mtime
   * ([[storeNowMs]]) — never local-vs-store, so object-store/NFS clock
   * skew cannot falsely expire a live transaction. The local clock only
   * pre-filters candidates (skew there delays detection, never forces it).
   */
  private def abortExpiredFrom(name: String,
      txns: Seq[(String, Path, Long, TxnState)],
      freshlyWritten: Set[String]): Seq[String] = {
    val timeout = txnTimeoutMs
    if (timeout <= 0L || txns.isEmpty) return Nil
    // Cheap LOCAL-clock pre-filter: only when a candidate LOOKS expired is
    // the store's clock consulted (one probe write) — zero extra IO on the
    // common nothing-expired entry. The FINAL judgment is store-clock vs
    // store-clock ([[storeNowMs]] vs the state file's mtime), so a local
    // clock running AHEAD of the store (the false-expiry direction) can
    // never expire a live, heartbeating transaction; a local clock BEHIND
    // the store merely delays detection by the skew (liveness, not
    // safety — the abandoned transaction still expires, just later).
    val localNow = localNowMs
    val candidates = txns.filter { case (id, _, mtime, st) =>
      st.state == "open" && !freshlyWritten.contains(id) &&
        localNow - mtime > timeout
    }
    if (candidates.isEmpty) return Nil
    val now = storeNowMs(txnDir(name))
    candidates.collect {
      case (id, path, mtime, st) if now - mtime > timeout =>
        expireTxnLocked(name, id, path, now - mtime, timeout, st)
        id
    }
  }

  /** Store-clock "now": the mtime of a freshly rewritten probe file in
    * `dir`. The lease judge compares a state file's mtime against the SAME
    * clock that stamped it (the store's), never the local JVM's — on an
    * object store/NFS, a local-vs-store skew comparable to
    * `spark.graft.txn.timeoutMs` would otherwise falsely expire a live
    * transaction whose statements are minutes apart. Falls back to the
    * local clock if the probe cannot be written (every real caller holds
    * the produce lock, so the store is writable there). The probe is
    * dot-prefixed — invisible to [[listTxnFiles]] and Spark file indexes. */
  private def storeNowMs(dir: Path): Long =
    try {
      val probe = new Path(dir, ".nowprobe")
      FileCreate.write(fs, probe, Array('t'.toByte))
      fs.getFileStatus(probe).getModificationTime
    } catch { case scala.util.control.NonFatal(_) => localNowMs }

  /** Local wall clock plus the TEST-ONLY skew knob
    * `spark.graft.txn.testLocalSkewMs` — the seam that lets specs simulate
    * a local clock running ahead of the store's without bending the
    * filesystem's own mtimes (production leaves it unset; it shifts only
    * the cheap pre-filter, never the store-clock judgment). */
  private def localNowMs: Long =
    System.currentTimeMillis() +
      conf("spark.graft.txn.testLocalSkewMs", "0").toLong

  /** Expire ONE open transaction (caller holds the produce lock): flip
    * to aborted with the standard debris handling — stagings reaped
    * eagerly, rooted-but-gated vectors left for vacuum/purge (the dead
    * gate is the CDF frontier's release evidence), cursor pointers
    * cleaned. */
  private def expireTxnLocked(name: String, id: String, path: Path,
                              idleMs: Long, timeout: Long,
                              st: TxnState): Unit = {
    writeAtomic(path, st.copy(state = "aborted").toJson)
    Catalog.log.warn(s"topic '$name': open transaction '$id' idle " +
      s"${idleMs}ms > spark.graft.txn.timeoutMs=$timeout — " +
      "auto-aborted (heartbeat() or any statement extends the lease)")
    reapTxnDeletes(name, st, includeRooted = false)
    st.offsets.foreach { o =>
      try { fs.delete(txnPointerPath(o.topic, name, id), false): Unit }
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Extend an open transaction's liveness lease without changing it —
    * [[TransactionalProducer.heartbeat]]: rewrites the state file so its
    * mtime (the [[abortExpiredTxnsLocked]] age base) is fresh. Under the
    * produce lock like every state write, so a concurrent reconcile's
    * phantom-range truncation can never be resurrected by an unlocked
    * copy of the pre-truncation state. */
  /**
   * Extend an open transaction's liveness lease — or FENCE it if the
   * lease already expired. Uniform ENTRY semantics across statement
   * types: any statement or heartbeat arriving AFTER the timeout horizon
   * behaves exactly like the write-path detection it raced — the full
   * reconcile runs (phantom-tail truncation first, then expiry), the
   * transaction auto-aborts, and the call throws; one arriving BEFORE
   * the horizon extends the lease, like a Kafka send beating the
   * coordinator's timer. `fenceExpired = false` is the END-of-statement
   * refresh: a produce/produceTo data write may legitimately outlive
   * the horizon mid-statement, and the refresh must not re-judge it.
   */
  private[engine] def touchTxn(name: String, txnId: String,
                               fenceExpired: Boolean = true): Unit = {
    // brief metadata hold: ride the patience floor so routine
    // contention with concurrent-produce brief sections serializes
    acquireProduceLock(name, briefLockWaitMs)
    try {
      if (fenceExpired) {
        reconcileProduceState(name): Unit
        txnState(name, txnId).filter(_.state == "aborted").foreach { _ =>
          throw new IllegalStateException(
            s"transaction '$txnId' on topic '$name' is aborted (leases " +
            "idle past spark.graft.txn.timeoutMs auto-abort) — begin a " +
            "new transaction")
        }
      }
      touchTxnHeld(name, txnId)
    } finally releaseProduceLock(name)
  }

  /** [[touchTxn]] body for callers already holding the produce lock (the
    * file lock is not reentrant). Called at the END of a transactional
    * produce — the intent write happens BEFORE the data write, so without
    * this a single produce whose Spark job outlives the timeout would
    * leave a stale lease behind an ACTIVE client, and its very next
    * statement or commit would be falsely expired. The lease must
    * measure idle time between statements, not statement duration. */
  private[engine] def touchTxnHeld(name: String, txnId: String): Unit = {
    val st = txnState(name, txnId).getOrElse(throw new IllegalStateException(
      s"unknown transaction '$txnId' on topic '$name'"))
    if (st.state != "open") throw new IllegalStateException(
      s"transaction '$txnId' on topic '$name' is ${st.state}, not open")
    writeAtomic(txnPath(name, txnId), st.toJson)
  }

  /** Decided-dead transaction debris older than `minAgeMs`: local ABORTED
    * records plus remote shares whose coordinator aborted or whose record
    * is gone (missing reads as aborted — [[coordState]]). Age = record
    * file mtime; younger records wait for the next pass (in-flight
    * readers may have planned against them). */
  private[engine] def agedDeadTxnRecords(name: String, minAgeMs: Long)
      : (Map[String, TxnState], Map[String, RemoteTxn]) = {
    // store-clock "now" (same rationale as the lease judge): retention age
    // must be measured on the clock that stamped the record mtimes, or a
    // local clock ahead of the store would shorten the in-flight-reader
    // grace window by the skew
    val abortedAll = listTxns(name).filter(_._2.state == "aborted")
    val deadRemoteAll = listRemoteTxns(name).filter { case (_, r) =>
      coordState(r).forall(_ == "aborted") }
    if (abortedAll.isEmpty && deadRemoteAll.isEmpty)
      return (abortedAll, deadRemoteAll)
    // minAge disabled ⇒ everything qualifies; otherwise probe once
    val now = if (minAgeMs <= 0L) Long.MaxValue else storeNowMs(txnDir(name))
    def aged(p: Path): Boolean =
      try now - fs.getFileStatus(p).getModificationTime >= minAgeMs
      catch { case _: java.io.IOException => false }
    (abortedAll.filter { case (id, _) => aged(txnPath(name, id)) },
      deadRemoteAll.filter { case (p, _) => aged(new Path(p)) })
  }

  /**
   * Physically reclaim decided-dead transactions' events and records (the
   * [[TopicHandle.purgeAborted]] core, age-gateable for
   * [[maintainTopic]]): one [[purgeTopic]] rewrite dropping every row
   * inside a dead range, then the records themselves go — keeping the
   * `read_committed` exclusion set bounded. Ordering: delete-vector
   * debris is reaped BEFORE the record removal, because a root gated by
   * a MISSING record is only provably dead when records are removed
   * strictly after their debris. Returns the number of records (local
   * aborted + dead remote shares) reclaimed.
   */
  private[engine] def purgeAbortedTxns(name: String,
                                       chunkMaxRecords: Long = 1000000L,
                                       minAgeMs: Long = 0L): Int = {
    val (aborted, deadRemote) = agedDeadTxnRecords(name, minAgeMs)
    if (isTiered(name)) vectorDeadTxnRecords(name, aborted, deadRemote)
    else purgeDeadTxnRecords(name, aborted, deadRemote, chunkMaxRecords)
  }

  /** [[purgeAbortedTxns]] body over a pre-taken [[agedDeadTxnRecords]]
    * result — [[maintainTopic]]'s gate already paid those listings. */
  private def purgeDeadTxnRecords(name: String,
                                  aborted: Map[String, TxnState],
                                  deadRemote: Map[String, RemoteTxn],
                                  chunkMaxRecords: Long): Int =
    reclaimDeadTxnRecords(name, aborted, deadRemote, cond =>
      purgeTopic(name, cond, chunkMaxRecords))

  /** The shared dead-record reclaim body (hot-topic purge and tiered
    * vector conversion differ ONLY in how the rows die): build the dead
    * ranges' predicate, apply `deleteRows`, then reap debris BEFORE
    * removing records — a root gated by a MISSING record is only provably
    * dead when records are removed strictly after their debris. */
  private def reclaimDeadTxnRecords(name: String,
                                    aborted: Map[String, TxnState],
                                    deadRemote: Map[String, RemoteTxn],
                                    deleteRows: org.apache.spark.sql.Column => Unit): Int = {
    import org.apache.spark.sql.functions.col
    val ranges = (aborted.values.flatMap(_.ranges) ++
      deadRemote.values.flatMap(_.ranges)).filter(_.count > 0L).toSeq
    if (ranges.nonEmpty)
      deleteRows(ranges.map(r =>
        col("partition") === r.partition &&
          col("event_id") >= r.first &&
          col("event_id") < r.first + r.count).reduce(_ || _))
    aborted.values.foreach(st => reapTxnDeletes(name, st))
    aborted.keys.foreach(id => removeTxn(name, id))
    deadRemote.keys.foreach(removeRemoteTxn)
    aborted.size + deadRemote.size
  }

  /**
   * [[purgeDeadTxnRecords]]'s TIERED-topic counterpart: a log rewrite is
   * refused on a tiered topic (the archived cold tier would be stranded —
   * [[rewriteLocked]]'s `failIfTiered`), so decided-dead rows are
   * converted to DELETION VECTORS instead ([[deleteWhereVectored]] — the
   * one delete that works on tiered topics, since hot and cold reads both
   * merge vectors), then the records themselves go. Same bound, different
   * mechanism: record count and the `read_committed` exclusion set stay
   * bounded by construction, rows become invisible to EVERY read surface
   * immediately, and the physical bytes are reclaimed whenever the cold
   * tier is next restored/rewritten (vector folding). The vector-FILE
   * count is bounded by [[maintainTopic]]'s `compactDeleteVectors` merge
   * trigger. Clone-safe without a guard: vectors touch no chunk files,
   * and clones copy the source's vector roots at birth ([[cloneTopic]])
   * so a later conversion never changes a clone's view. Crash-idempotent:
   * a crash after the vector commit re-runs the conversion, whose
   * vector-applied match then finds zero new rows, and the record
   * removal completes. Returns records reclaimed, like the purge.
   */
  private def vectorDeadTxnRecords(name: String,
                                   aborted: Map[String, TxnState],
                                   deadRemote: Map[String, RemoteTxn]): Int =
    reclaimDeadTxnRecords(name, aborted, deadRemote, cond =>
      deleteWhereVectored(name, cond): Unit)

  /** Id ranges a read_committed reader must EXCLUDE: every range of every
    * LOCAL transaction that is not committed (open or aborted), plus every
    * REMOTE share ([[RemoteTxn]] — rows produced here under another
    * topic's transaction via [[TransactionalProducer.produceTo]]) whose
    * coordinator has not committed. A remote record whose coordinator IS
    * committed stops excluding and is lazily removed (terminal state —
    * the record serves nothing further; purgeAborted needs only the
    * not-committed ones). Metadata-only — O(live transactions) in size;
    * [[TopicHandle.purgeAborted]] keeps the aborted side bounded. */
  def uncommittedTxnRanges(name: String): Seq[TxnRange] = {
    val local = listTxns(name).values.toSeq
      .filter(_.state != "committed").flatMap(_.ranges)
    val remote = listRemoteTxns(name).toSeq.flatMap { case (p, r) =>
      coordState(r) match {
        case Some("committed") =>
          // lazy fold: decided, visible. INVARIANT: what this deletes is
          // the REMOTE SHARE record (this topic's pointer to the
          // coordinator), never the coordinator's own committed record —
          // "a missing COORDINATOR record proves aborted-and-purged"
          // ([[coordState]]) stays sound because [[removeTxn]] refuses
          // committed records and [[dropTopic]] folds outstanding shares
          // first. A missing SHARE record is the terminal no-op state:
          // the rows are simply visible, and shares are deleted only
          // AFTER resolving to committed, so two planners racing a
          // delete with a list at worst re-resolve. Best-effort — this
          // runs on READ paths (plan time), which must survive a
          // read-only filesystem
          try { fs.delete(new Path(p), false): Unit }
          catch { case scala.util.control.NonFatal(_) => () }
          Nil
        case _ => r.ranges // open, aborted, or purged: not visible
      }
    }
    (local ++ remote).filter(_.count > 0L)
  }

  /**
   * The UNDECIDED (open) transaction ranges / the DECIDED-DEAD (aborted,
   * or purged-record) ones, split — the streaming read_committed pair:
   * a stream's offsets must HOLD below an open transaction's first id
   * (its outcome is unknown — Kafka's last-stable-offset), while a
   * decided-dead range is simply filtered from batches as the offsets
   * advance past it (waiting on it would stall forever). Batch reads use
   * the union ([[uncommittedTxnRanges]]).
   */
  private[graft] def splitTxnRanges(name: String): (Seq[TxnRange], Seq[TxnRange]) = {
    val local = listTxns(name).values.toSeq
    val remote = listRemoteTxns(name).values.toSeq
      .map(r => (coordState(r), r.ranges))
    val open = local.filter(_.state == "open").flatMap(_.ranges) ++
      remote.collect { case (Some("open"), rs) => rs }.flatten
    val dead = local.filter(_.state == "aborted").flatMap(_.ranges) ++
      remote.collect { case (st, rs)
        if !st.contains("open") && !st.contains("committed") => rs }.flatten
    (open.filter(_.count > 0L), dead.filter(_.count > 0L))
  }

  /** A remote share's coordinator state — None when the coordinator
    * record is gone (committed records are never removed, so a missing
    * one proves an aborted-and-purged transaction). */
  private[engine] def coordState(r: RemoteTxn): Option[String] =
    (try txnState(r.coordTopic, r.txnId)
     catch { case _: IllegalArgumentException => None }).map(_.state)

  private def remoteTxnDir(name: String): Path =
    new Path(topicPath(name), "_txns_remote")

  /** One record per (coordinator topic, transaction) — content-hashed
    * name, repeated produceTo calls merge ranges into it. */
  private def remoteTxnPath(name: String, coordTopic: String, txnId: String): Path = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest((coordTopic + " " + txnId).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    new Path(remoteTxnDir(name), s"$h.json")
  }

  /** Delete a decided remote share's record (purgeAborted's cleanup). */
  private[engine] def removeRemoteTxn(path: String): Unit =
    fs.delete(new Path(path), false): Unit

  /** This topic's remote transaction shares, keyed by record path. */
  private[engine] def listRemoteTxns(name: String): Map[String, RemoteTxn] = {
    val dir = remoteTxnDir(name)
    if (!fs.exists(dir)) Map.empty
    else fs.listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".json") &&
        !s.getPath.getName.startsWith("."))
      .flatMap(s => readStringResilient(s.getPath)
        .map(j => s.getPath.toString -> RemoteTxn.fromJson(j)))
      .toMap
  }

  /**
   * Produce to `target` under a transaction coordinated on `coord` (see
   * [[TransactionalProducer.produceTo]]): the standard held produce under
   * the TARGET's lock, with the pre-commit intent writing the id ranges
   * into the target's REMOTE record — watermark-decidable exactly like a
   * local transactional produce ([[reconcileProduceState]] truncates a
   * crashed produce's phantom tail while the coordinator is open, before
   * those ids can be reissued). Coordinator openness is validated at
   * entry; the commit racing the produce's tail is the application's
   * fencing responsibility, as in Kafka.
   */
  private[engine] def produceRemote(coord: String, txnId: String,
                                    target: String,
                                    df: org.apache.spark.sql.DataFrame): Map[Int, (Long, Long)] = {
    if (!topicExists(target)) throw new IllegalArgumentException(
      s"produceTo: unknown target topic '$target'")
    // openness check AND coordinator lease refresh in one locked write —
    // produceTo never writes the coordinator's state otherwise, so a
    // transaction driven only through foreign produces would idle its
    // coordinator lease straight into the timeout. Fences uniformly if
    // the lease ALREADY expired (see touchTxn). Taken BEFORE the
    // target's produce lock (two topics' locks never nest).
    touchTxn(coord, txnId)
    val res = {
      // draining acquisition on the TARGET: produceTo writes data under
      // its lock and commits a watermark jump (see the intent protocol)
      acquireProduceLockDraining(target)
      try {
        reconcileProduceState(target): Unit
        new Producer(spark, this, openTopic(target)).produceHeld(df, ranges => {
          val path = remoteTxnPath(target, coord, txnId)
          val merged = readStringResilient(path).map(RemoteTxn.fromJson)
            .map(r => r.copy(ranges = r.ranges ++ TxnRange.toRanges(ranges)))
            .getOrElse(RemoteTxn(coord, txnId, TxnRange.toRanges(ranges)))
          FileCreate.mkdirs(fs, remoteTxnDir(target)): Unit
          writeAtomic(path, merged.toJson)
        })
      } finally releaseProduceLock(target)
    }
    // end-of-statement lease refresh (after the target lock is released —
    // two topics' locks never nest): a foreign data write outliving the
    // timeout must not leave a stale lease behind an active client. The
    // coordinator lock is NOT held during the statement, so a concurrent
    // detector may have expired the transaction mid-write — tolerated
    // here (the refresh is best-effort); the commit fences loudly.
    try touchTxn(coord, txnId, fenceExpired = false)
    catch { case _: IllegalStateException => () }
    res
  }

  private def pidDir(name: String): Path = new Path(topicPath(name), "_producers")
  private def pidPath(name: String, pid: String): Path =
    new Path(pidDir(name), s"${validComponent("producer id", pid)}.json")

  def producerState(name: String, pid: String): Option[PidState] =
    readStringResilient(pidPath(name, pid)).map(PidState.fromJson)

  private[engine] def writeProducerState(name: String, pid: String, st: PidState): Unit = {
    FileCreate.mkdirs(fs, pidDir(name))
    writeAtomic(pidPath(name, pid), st.toJson)
  }

  private[engine] def listProducerStates(name: String): Map[String, PidState] = {
    val dir = pidDir(name)
    if (!fs.exists(dir)) Map.empty
    else fs.listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".json") &&
        !s.getPath.getName.startsWith("."))
      .flatMap(s => readStringResilient(s.getPath)
        .map(j => s.getPath.getName.stripSuffix(".json") -> PidState.fromJson(j)))
      .toMap
  }

  /**
   * Decide every crash-window intent against the committed id watermark —
   * MUST run (under the produce lock) before any path that can assign new
   * ids, so a dead produce's intent is resolved before its ids become
   * reusable (see the crash contract in [[TxnRange]]'s file Scaladoc):
   *
   *  - open transactions: a recorded range reaching past the watermark
   *    belongs to a produce that died before its commit — those ids were
   *    never issued, so the range is truncated to the watermark (empty
   *    ranges drop);
   *  - idempotent producers: a pending sequence whose ranges all sit below
   *    the watermark actually committed (the watermark write is atomic) and
   *    is promoted; otherwise the produce died pre-commit and the pending
   *    marker is discarded — BEFORE a later produce advances the watermark
   *    over those ids and would falsely promote it.
   *
   * @return the committed watermark (a reserve takes it instead of
   *         reading it again) and the merge intents that SURVIVE
   *         reconciliation (live merges mid-delete-phase) — most callers
   *         ignore it; MergeCommit's serialization gate reuses the listing
   */
  private[engine] def reconcileProduceState(name: String): Catalog.Reconciled = {
    val wm: Map[Int, Long] = Catalog.retryOnRollRace(readManifestOnce(name)) match {
      case None if !fs.exists(createdMarker(name)) =>
        // a crashed rewrite's swap is finished, and a lost manifest log
        // rebuilt from the log, before this entry can move a file into it:
        // a crash after that leaves debris the manifest tells apart from
        // committed files, where a log scan would adopt it. Under the
        // compact lock, so no live rewrite is mid-swap or mid-rebuild (one
        // holding it fails this produce loudly)
        acquireLock(compactLockPath(name), age =>
          s"topic '$name': cannot produce while compaction is in progress " +
          s"(lock ${compactLockPath(name)}, age ${age / 1000}s)")
        try {
          recoverSwapLocked(name)
          if (readManifest(name).isEmpty) rebuildManifest(name)
        } finally releaseCompactLock(name)
        nextIds(name)
      case None => nextIds(name)
      case m => idsOf(name, m)
    }
    // decide abandoned CONCURRENT-produce intents before anything judges
    // against reservations (before any entry purge reads the watermark)
    rollbackStaleIntentsLocked(name): Unit
    // ONE _txns listing feeds both passes below (every produce entry
    // pays this path)
    val txns = listTxnFiles(name)
    val rewritten = txns.flatMap { case (id, path, _, st) =>
      if (st.state == "open" && st.ranges.nonEmpty) {
        val fixed = st.ranges.flatMap { r =>
          val cap = math.max(0L, math.min(r.count, wm.getOrElse(r.partition, 0L) - r.first))
          if (cap == 0L) None else Some(r.copy(count = cap))
        }
        if (fixed != st.ranges) {
          writeAtomic(path, st.copy(ranges = fixed).toJson)
          Some(id)
        } else None
      } else None
    }.toSet
    // AFTER the truncation pass: an expiring transaction must abort with
    // its phantom tail already truncated, or its decided-dead ranges
    // would exclude ids this very entry is about to re-issue. Just-
    // truncated transactions are skipped — their listed state/mtime are
    // stale and the rewrite refreshed the lease anyway (a one-time grace
    // for a transaction that just survived a crashed produce).
    abortExpiredFrom(name, txns, rewritten): Unit
    listProducerStates(name).foreach { case (pid, st) =>
      st.pending.foreach { case (seq, ranges) =>
        val committed = ranges.forall(r => wm.getOrElse(r.partition, 0L) >= r.first + r.count)
        val next =
          if (committed) st.copy(committedSeq = seq, committedRanges = ranges, pending = None)
          else st.copy(pending = None)
        writeAtomic(pidPath(name, pid), next.toJson)
      }
    }
    // remote transaction shares (produceTo): a crashed produce's phantom
    // tail (ranges at/above the watermark) truncates the same way a local
    // transaction's does — while the coordinator has NOT committed. A
    // committed coordinator's ranges are final (its produce completed, or
    // the tail is a harmless phantom that excludes nothing once committed).
    listRemoteTxns(name).foreach { case (path, r) =>
      if (!coordState(r).contains("committed")) {
        val fixed = r.ranges.flatMap { rg =>
          val cap = math.max(0L,
            math.min(rg.count, wm.getOrElse(rg.partition, 0L) - rg.first))
          if (cap == 0L) None else Some(rg.copy(count = cap))
        }
        if (fixed != r.ranges)
          writeAtomic(new Path(path), r.copy(ranges = fixed).toJson)
      }
    }
    Catalog.Reconciled(wm, reconcileMergeState(name))
  }

  // -- concurrent produce intents (multi-producer ingest) --------------------

  /**
   * CONCURRENT PLAIN PRODUCE — the reservation-intent protocol that lets N
   * producers ingest one topic in parallel. The reference serves many
   * concurrent clients per partition (ids assigned under a queue lock,
   * appends linearized per partition — `ProviderImpl.hpp:137-160`,
   * `DefaultPartitionManager.cpp:391-409`); here the produce lock is held
   * only for id RESERVATION and the ordered COMMIT, never across the data
   * write:
   *
   *  1. RESERVE (brief lock): ids are reserved at max(committed watermark,
   *     every live intent's range end) and recorded in an intent file
   *     under `_intents/` — reservations stack, so ranges never overlap
   *     whatever the interleaving.
   *  2. WRITE (no lock, the expensive phase): the batch lands in a private
   *     staging directory `log.staging/<intentId>/` — never the log, so
   *     readers, manifest diffs, purge passes, and other producers cannot
   *     observe or adopt half-written files. A daemon heartbeat touches
   *     the intent so a live writer never goes stale.
   *  3. COMMIT (brief lock, ORDERED): a commit applies only once the
   *     watermark has reached its reservation's start — predecessors
   *     commit first (or are rolled back once stale), so the watermark
   *     advances contiguously, manifest adoption windows never overlap,
   *     and streams never see rows appear below an already-advanced
   *     watermark. The chunk files the write tasks reported (and only
   *     those) are renamed into the log, the manifest delta commits with
   *     their reported id ranges (adoption bounded to exactly the reserved
   *     range), the watermark advances, the intent is removed.
   *
   * Crash anatomy: an abandoned intent goes stale (mtime judged on the
   * STORE clock, like the transaction lease) and is rolled back by the
   * next entry's reconcile or by a blocked successor — staging deleted,
   * intent removed; a successor then GAP-ADVANCES the watermark over the
   * dead range (marking id gaps) so the chain never wedges. A rolled-back
   * range is re-issued only when NO successor reserved above it
   * (reservations floor at live intent ends). The intent record is the
   * crash marker of the files its commit moves: a commit that dies
   * between its renames and its manifest delta leaves chunks in `log/`
   * that no manifest lists, with ids inside the reserved range, and the
   * record still in place. The rollback purges exactly those files before
   * it deletes anything else ([[rollbackProduceIntentLocked]]), and a
   * producer's own non-crash failure after its renames deletes them by
   * name first ([[commitChunks]]) — so an unregistered file never
   * outlives its marker, and a later commit never has to list the log to
   * find it.
   *
   * Exclusive-statement writers (transactional/idempotent produce, SQL
   * MERGE — they hold the lock across their data write and commit a
   * watermark jump) enter through [[acquireProduceLockDraining]]: they
   * wait for zero live intents, and their held lock blocks new
   * reservations for the statement's span.
   */
  private def intentsDir(name: String): Path = new Path(topicPath(name), "_intents")
  private def intentPath(name: String, id: String): Path =
    new Path(intentsDir(name), s"${validComponent("intent id", id)}.json")

  /** The intent's SIBLING lease marker — the heartbeat's write target on
    * stores whose `setTimes` is a silent no-op (s3a posture, see
    * [[Catalog.refreshMtimeVerified]]). Dot-prefixed: invisible to
    * [[listProduceIntents]]'s record filter; its mtime only ever EXTENDS a
    * listed record's lease (max of the two), so a lease without a record
    * is inert debris (vacuum reaps it). Refreshing a sibling instead of
    * rewriting the record keeps both of the record's load-bearing
    * invariants for free: the record is never transiently missing to an
    * unlocked listing, and a rollback's delete can never be raced into a
    * resurrected record with a fresh lease. */
  private[engine] def intentLeasePath(name: String, id: String): Path =
    new Path(intentsDir(name), s".${validComponent("intent id", id)}.json.lease")

  /** The private per-intent staging root — a SIBLING of `log/`, so no
    * whole-log listing ([[fullLogDF]]) or manifest diff ever sees it. */
  private[engine] def produceStagingDir(name: String, id: String): Path =
    new Path(topicPath(name), s"log.staging/${validComponent("intent id", id)}")

  /** A fresh private staging dir for a produce that holds the produce lock
    * through its write (transactions, MERGE, idempotent produce). It has no
    * intent, but vacuum's orphan-staging reap cannot take it while it is
    * live: vacuum refuses to run under a held produce lock. A crash leaves
    * it for that reap. */
  private[engine] def heldStagingDir(name: String): Path =
    new Path(topicPath(name), s"log.staging/held-${java.util.UUID.randomUUID()}")

  private[engine] def deleteStaging(dir: Path): Unit = fs.delete(dir, true): Unit

  /** Topics whose first locked write-path entry through this catalog ran
    * its purge ([[purgeAtEntryLocked]]). */
  private val enteredTopics = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Crash hygiene at a produce's locked entry (caller holds the produce
    * lock and has reconciled; `wm` is the committed watermark it read).
    * Lists `log.staging` (bounded by the live writers) for `held-*` dirs:
    * a lock-held produce keeps its dir until its moved chunks are
    * registered or deleted again, and held writers hold the lock we hold,
    * so any such dir is a dead produce's crash marker — its chunks are
    * purged ([[purgeUncommitted]]), then the dir goes. The first entry
    * through this catalog on a topic purges too, whatever it finds: debris
    * from before the markers existed, or of a crash whose marker was lost,
    * goes before this catalog's commits stop listing. */
  private[engine] def purgeAtEntryLocked(name: String, wm: Map[Int, Long]): Unit = {
    val held =
      try fs.listStatus(new Path(topicPath(name), "log.staging")).toSeq.collect {
        case s if s.isDirectory && s.getPath.getName.startsWith("held-") => s.getPath
      } catch { case _: java.io.FileNotFoundException => Nil }
    val first = !enteredTopics.contains(name)
    if (first || held.nonEmpty) purgeUncommitted(name, wm)
    held.foreach(deleteStaging)
    if (first) enteredTopics.add(name): Unit
  }

  /** Produce-intent lease horizon (the concurrent-produce analog of the
    * transaction lease): an intent idle past it is presumed crashed and
    * rolled back. The write-phase heartbeat refreshes at horizon/4, so
    * only a dead producer can expire. */
  private[engine] def produceIntentTimeoutMs: Long =
    conf("spark.graft.produce.intentTimeoutMs",
      Catalog.CompactLockStaleMs.toString).toLong

  /** The protocol's patience knobs, CATALOG-SCOPED: each reads its
    * `spark.graft.*` key through [[conf]] — session conf plus this
    * catalog's [[setConfOverride]] precedence, same as its sibling
    * `intentTimeoutMs` — so two catalogs in one JVM (a test harness, a
    * multi-tenant driver) can hold different patience settings without
    * mutating global state. The legacy `object Catalog` vars remain as
    * JVM-wide DEFAULTS only. */
  private[graft] def produceLockWaitMs: Long =
    conf("spark.graft.produce.lockWaitMs",
      Catalog.ProduceLockWaitMs.toString).toLong

  /** See [[produceLockWaitMs]]'s scoping note. */
  private[graft] def produceCommitWaitMs: Long =
    conf("spark.graft.produce.commitWaitMs",
      Catalog.ProduceCommitWaitMs.toString).toLong

  /** See [[produceLockWaitMs]]'s scoping note. */
  private[graft] def briefLockWaitMs: Long =
    conf("spark.graft.produce.briefLockWaitMs",
      Catalog.BriefLockWaitMs.toString).toLong

  /** Settle window for [[Catalog.createLockFileArbitrated]]'s nonce
    * read-back on check-then-put stores (catalog-scoped): the delay
    * between landing the lock payload and reading it back, which must
    * cover the check→put latency of a racing contender for the
    * read-back to observe its overwrite. Paid ONLY on a successful
    * create on a store without atomic create-exclusive — never on
    * `file:`/HDFS, and never on the fail-fast contended path. */
  private[graft] def lockVerifyDelayMs: Long =
    conf("spark.graft.lock.verifyDelayMs", "100").toLong

  /** See [[produceLockWaitMs]]'s scoping note. The MERGE paths construct
    * their own Catalog instances ([[graft.engine.MergeCommit.commit]],
    * the SQL row-level-operation planner), but overrides are keyed by
    * WAREHOUSE (r17), so a user catalog's `setConfOverride` reaches them
    * like every other knob. */
  private[graft] def mergeCommitWaitMs: Long =
    conf("spark.graft.merge.commitWaitMs",
      Catalog.MergeCommitWaitMs.toString).toLong

  /** Every produce intent: (id, reserved ranges, lease mtime). One
    * listing; a topic that never saw concurrent produce pays one
    * exists() probe. The lease mtime is the max of the record's own mtime
    * and its sibling lease marker's (when the heartbeat runs write-based,
    * [[intentLeasePath]]) — both stamps come from the SAME listing, so the
    * sibling costs zero extra round trips. */
  private[graft] def listProduceIntents(name: String): Seq[(String, Vector[TxnRange], Long)] = {
    val dir = intentsDir(name)
    if (!fs.exists(dir)) return Nil
    val entries = fs.listStatus(dir).toSeq.filter(_.isFile)
    val leaseMtimes: Map[String, Long] = entries.collect {
      case s if s.getPath.getName.startsWith(".") &&
          s.getPath.getName.endsWith(".json.lease") =>
        s.getPath.getName.stripPrefix(".").stripSuffix(".json.lease") ->
          s.getModificationTime
    }.toMap
    entries
      .filter(s => s.getPath.getName.endsWith(".json") &&
        !s.getPath.getName.startsWith("."))
      .flatMap(s => readStringResilient(s.getPath).map { j =>
        val id = s.getPath.getName.stripSuffix(".json")
        (id,
          TxnRange.fromJValue(JsonMethods.parse(j) \ "ranges"),
          math.max(s.getModificationTime, leaseMtimes.getOrElse(id, 0L)))
      })
  }

  /** [[graft.engine.TopicHandle.produceIntents]]'s driver-side rows —
    * shared with the SQL procedure surface
    * (`CALL cat.system.produce_intents('t')`): one row per live
    * reservation intent with its reserved-event/range counts, staged
    * footprint (files + bytes in the intent's private staging dir — one
    * content summary per intent, metadata-only), and lease idle time (the
    * age the janitor judges against
    * `spark.graft.produce.intentTimeoutMs`). The operator's view for
    * "which producer is blocking my exclusive statement / queued commit"
    * — the produce-side mirror of the `transactions` admin listing. */
  private[graft] def produceIntentRows(name: String)
      : Seq[(String, Long, Long, Long, Long, Long)] = {
    val intents = listProduceIntents(name).sortBy(_._1)
    if (intents.isEmpty) return Nil
    // idle mirrors the janitor's two-clock AND rule
    // ([[rollbackStaleIntentsLocked]]): the lease stamp is local-clock on
    // setTimes-capable stores and store-clock on write-refresh stores, so
    // a single reference clock would read skew as idleness in one mode or
    // the other. Reporting min(local age, store age) shows the smallest
    // idleness BOTH clocks agree on — the same conservatism under which
    // the janitor would (not) expire it, which is the verdict the
    // operator is here to predict.
    val storeNow = storeNowMs(intentsDir(name))
    val localNow = localNowMs
    intents.map { case (id, ranges, m) =>
      val (files, bytes) =
        try {
          val cs = fs.getContentSummary(produceStagingDir(name, id))
          (cs.getFileCount, cs.getLength)
        } catch { case _: java.io.FileNotFoundException => (0L, 0L) }
      (id, ranges.map(_.count).sum, ranges.size.toLong, files, bytes,
        math.max(0L, math.min(storeNow - m, localNow - m)))
    }
  }

  /** Admin listing of this topic's HELD lock files (VERDICT r16 #3) — the
    * third thing an operator's exclusive statement can block on, alongside
    * the `transactions` and `produce_intents` views: one row per existing
    * `_produce.lock` / `_compact.lock` carrying the owner JSON the
    * acquirer wrote into the file, the lock's idle age (the same
    * min-of-two-clocks conservatism as [[produceIntentRows]]: the
    * heartbeat stamps the local clock via `setTimes` where that works and
    * the store clock via re-create where it doesn't), the heartbeat mode
    * this catalog would run on the store, and whether a contender's
    * reclaim claim is pending. Control-plane sized: an exists probe, a
    * stat and a small read per lock, plus ONE store-clock probe write
    * ([[storeNowMs]] rewrites the dot-prefixed `.nowprobe`) — on a store
    * the caller cannot write, the probe falls back to the local clock and
    * the age degrades to local-only. An age under the staleness horizon with a
    * live heartbeat is a working producer/compactor; an age past
    * [[Catalog.CompactLockStaleMs]] is a crash leftover the next
    * contender will reclaim. */
  private[graft] def lockRows(name: String)
      : Seq[(String, String, Long, String, Boolean)] = {
    val locks = Seq("produce" -> produceLockPath(name),
      "compact" -> compactLockPath(name))
    val present = locks.filter { case (_, p) =>
      try fs.exists(p)
      catch { case scala.util.control.NonFatal(_) => false }
    }
    if (present.isEmpty) return Nil
    val storeNow = storeNowMs(topicPath(name))
    val localNow = localNowMs
    val mode =
      if (heartbeatForceWriteRefresh) "write-based (forced)"
      else Catalog.setTimesEffectiveFor(fs) match {
        case Some(true)  => "in-place (setTimes)"
        case Some(false) => "write-based (setTimes-deaf store)"
        case None        => "unprobed (decided at first beat)"
      }
    present.flatMap { case (kind, p) =>
      try {
        val m = fs.getFileStatus(p).getModificationTime
        Some((kind, readStringResilient(p).getOrElse(""),
          math.max(0L, math.min(storeNow - m, localNow - m)), mode,
          fs.exists(new Path(p.getParent, p.getName + ".reclaim"))))
      } catch { case _: java.io.FileNotFoundException => None } // released
    }
  }

  /** Reserve dense id ranges for a concurrent produce (caller holds the
    * produce lock): base = max(committed watermark `wm`, live intent ends)
    * per partition, so reservations stack above everything committed OR in
    * flight. `wm` is the committed watermark its reconcile read, the one
    * read of it in this locked section. Returns (intentId, firstIds). */
  private[engine] def reserveProduce(name: String, counts: Map[Int, Long],
                                     wm: Map[Int, Long]): (String, Map[Int, Long]) = {
    val ends: Map[Int, Long] = listProduceIntents(name)
      .flatMap(_._2).groupBy(_.partition)
      .view.mapValues(_.map(r => r.first + r.count).max).toMap
    val firstIds: Map[Int, Long] = counts.map { case (p, _) =>
      p -> math.max(wm.getOrElse(p, 0L), ends.getOrElse(p, 0L)) }
    val id = java.util.UUID.randomUUID().toString.take(12)
    val ranges = TxnRange.toRanges(counts.map { case (p, c) => p -> (firstIds(p), c) })
    FileCreate.mkdirs(fs, intentsDir(name))
    writeAtomic(intentPath(name, id), JsonMethods.compact(JsonMethods.render(
      JObject("ranges" -> TxnRange.toJValue(ranges)))))
    (id, firstIds)
  }

  /** Heartbeat: refresh the intent's lease mtime IN PLACE (`setTimes`) —
    * never a delete-then-rename rewrite of the record, for two
    * load-bearing reasons: (1) a rewrite's delete window would make a
    * LIVE intent invisible to every unlocked-at-write-time listing
    * judgment (commit blockers, the draining gate, the compaction/drop
    * guards, vacuum), and (2) a rewrite racing a rollback's delete could
    * RESURRECT the record — `setTimes` on a deleted path just throws, so
    * a rolled-back intent stays gone.
    *
    * `setTimes` is VERIFIED effective once per store
    * ([[Catalog.refreshMtimeVerified]]): Hadoop's default is a silent
    * no-op and s3a keeps it, so an unverified heartbeat would silently
    * stop beating there and a long data write would be janitored
    * mid-flight. On a setTimes-deaf store the refresh lands on the
    * SIBLING lease marker ([[intentLeasePath]], create-overwrite = one
    * atomic PUT) instead — the record itself is never touched, which
    * preserves both invariants above verbatim: the record is never
    * missing to a listing, and a rollback racing the lease create leaves
    * at worst an inert orphan marker (self-healed right here; vacuum
    * catches the residual create-vs-delete window). */
  /** @return true while the intent record is still live; false once it is
    *         gone (committed or rolled back) — the heartbeat loop's
    *         termination signal, so a beat thread whose cancel interrupt
    *         was eaten by a store client cannot outlive the produce. */
  /** Escape hatch (VERDICT r16): pins every heartbeat on this catalog to
    * the WRITE-BASED refresh path, bypassing
    * [[Catalog.refreshMtimeVerified]]'s permanent per-store memo. For a
    * store whose `setTimes` is flaky-rather-than-deaf — works at probe
    * time, silently degrades later — the memo would strand the heartbeat
    * on the in-place path forever; this conf (catalog-scoped, like its
    * patience siblings) forces the path that cannot silently stop
    * beating. */
  private[engine] def heartbeatForceWriteRefresh: Boolean =
    conf("spark.graft.heartbeat.forceWriteRefresh", "false").toBoolean

  private[engine] def touchProduceIntent(name: String, id: String): Boolean = {
    val p = intentPath(name, id)
    try {
      if (heartbeatForceWriteRefresh || !Catalog.refreshMtimeVerified(fs, p)) {
        val lease = intentLeasePath(name, id)
        FileCreate.touch(fs, lease)
        // self-heal the create-vs-rollback race: a rollback deletes lease
        // then record; a lease landing between those deletes (or after
        // both) must not linger — re-check the record and retract
        if (!fs.exists(p)) { fs.delete(lease, false): Unit; false }
        else true
      } else true
    } catch {
      case _: java.io.FileNotFoundException => false // rolled back: stay gone
    }
  }

  /** Roll back ONE intent (caller holds the produce lock). First the
    * chunks its commit may have moved into the log before dying: in the
    * intent's partitions, every unregistered file whose first id lies in
    * the reserved ranges and at or above the committed watermark is
    * deleted. Then staging, then the lease marker, then the intent record
    * — the record goes LAST so its presence always implies the others may
    * exist, and its absence is the terminal signal every observer keys
    * on. Idempotent, so a crash inside it just repeats it at the next
    * rollback. The watermark does NOT move here — a successor's commit
    * gap-advances over the dead range. */
  private[engine] def rollbackProduceIntentLocked(name: String, id: String): Unit = {
    readStringResilient(intentPath(name, id)).foreach { json =>
      val ranges = TxnRange.fromJValue(JsonMethods.parse(json) \ "ranges")
      val wm = nextIds(name)
      purgeUnregistered(name, ranges.map(_.partition).distinct)((p, lo) =>
        lo >= wm.getOrElse(p, 0L) && ranges.exists(r =>
          r.partition == p && lo >= r.first && lo < r.first + r.count))
    }
    fs.delete(produceStagingDir(name, id), true): Unit
    fs.delete(intentLeasePath(name, id), false): Unit
    fs.delete(intentPath(name, id), false): Unit
  }

  /** Decide stale intents (caller holds the produce lock): every intent
    * whose lease aged past [[produceIntentTimeoutMs]] — judged on the
    * store clock, same two-step as [[abortExpiredFrom]] — rolls back.
    * Runs at every write-path entry ([[reconcileProduceState]]), so
    * abandoned intents never outlive the next produce or janitor pass. */
  private[engine] def rollbackStaleIntentsLocked(name: String): Seq[String] = {
    val intents = listProduceIntents(name)
    if (intents.isEmpty) return Nil
    val timeout = produceIntentTimeoutMs
    val localNow = localNowMs
    val candidates = intents.filter { case (_, _, m) => localNow - m > timeout }
    if (candidates.isEmpty) return Nil
    val now = storeNowMs(intentsDir(name))
    candidates.collect {
      case (id, _, m) if now - m > timeout =>
        Catalog.log.warn(s"topic '$name': produce intent '$id' idle " +
          s"${now - m}ms > spark.graft.produce.intentTimeoutMs=$timeout — " +
          "rolled back (staging deleted; the producer, if somehow alive, " +
          "fails loudly at its commit)")
        rollbackProduceIntentLocked(name, id)
        id
    }
  }

  /** Self-rollback for a producer's own failure path, through the one
    * rollback body ([[rollbackProduceIntentLocked]]) under the lock: its
    * log purge must not race a successor that re-reserved the range. When
    * the lock cannot be had within the brief patience, only the private
    * staging goes; the record stays, and a janitor's rollback purges and
    * removes it once the lease goes stale. */
  private[engine] def abandonProduceIntent(name: String, id: String): Unit = {
    val locked =
      try { acquireProduceLock(name, briefLockWaitMs); true }
      catch { case _: LockConflictException => false }
    if (locked) try rollbackProduceIntentLocked(name, id) finally releaseProduceLock(name)
    else deleteStaging(produceStagingDir(name, id))
  }

  /** Write-phase lease heartbeat (daemon; cancel() before the commit). */
  private[engine] def startIntentHeartbeat(name: String, id: String): Thread = {
    val interval = math.max(200L, produceIntentTimeoutMs / 4)
    val t = new Thread(() => {
      try {
        var live = true
        while (live && !Thread.currentThread().isInterrupted) {
          Thread.sleep(interval)
          // one transient metadata-store hiccup must not kill the lease
          // heartbeat for the rest of a long write — swallow per BEAT and
          // retry next interval. NOT swallowed into an endless loop: a
          // beat that finds the intent RECORD gone (committed or rolled
          // back) ends the thread, so even an interrupt that a store
          // client ate mid-IO (Hadoop converts to InterruptedIOException,
          // often with the flag cleared — and SocketTimeoutException is
          // its subclass, so it cannot be treated as a cancel signal)
          // leaks at most the beats until the produce decides.
          live = try touchProduceIntent(name, id)
            catch { case scala.util.control.NonFatal(_) => true }
        }
      } catch {
        case _: InterruptedException => ()
      }
    }, s"graft-intent-heartbeat-$name-$id")
    t.setDaemon(true)
    t.start()
    t
  }

  /**
   * The ORDERED commit of a concurrent produce (phase 3): loops with
   * patience until the watermark reaches this reservation's start (every
   * predecessor committed or rolled back), then — under the lock — renames
   * the reported `chunks` (and only those) from the intent's staging dir
   * into the log, commits the manifest delta (adoption
   * bounded to exactly `[first, first+count)` per partition), advances the
   * watermark, and removes the intent. Throws if the intent was rolled
   * back (the produce must be retried whole), if its reservation was
   * superseded (watermark advanced past it — only possible after a
   * rollback), or on a compaction racing the commit (the same loud refusal
   * a direct produce gives).
   */
  private[engine] def commitProduceIntent(name: String, intentId: String,
      firstIds: Map[Int, Long], counts: Map[Int, Long],
      chunks: Seq[ChunkReport]): Unit = {
    val deadline = System.currentTimeMillis() + produceCommitWaitMs
    var lastTouch = System.currentTimeMillis()
    var backoffMs = 100L
    while (true) {
      acquireProduceLock(name, briefLockWaitMs)
      var committed = false
      try {
        if (!fs.exists(intentPath(name, intentId)))
          throw new IllegalStateException(
            s"topic '$name': produce intent '$intentId' was rolled back " +
            "(lease idle past spark.graft.produce.intentTimeoutMs) — this " +
            "produce did not commit; retry it")
        failIfCompacting(name)
        val wm = nextIds(name)
        firstIds.foreach { case (p, f) =>
          if (wm.getOrElse(p, 0L) > f) throw new IllegalStateException(
            s"topic '$name': produce intent '$intentId' reservation on " +
            s"partition $p starts below the committed watermark — the " +
            "intent was rolled back and superseded; this produce did not " +
            "commit; retry it")
        }
        // predecessors: intents holding not-yet-committed ranges BELOW ours
        // on any of our partitions
        val blockers = listProduceIntents(name).filter { case (id, rs, _) =>
          id != intentId && rs.exists(r =>
            firstIds.contains(r.partition) &&
              r.first < firstIds(r.partition) &&
              r.first + r.count > wm.getOrElse(r.partition, 0L))
        }
        if (blockers.isEmpty) {
          // rolled-back-then-resurrected zombie guard: a rollback deletes
          // staging BEFORE the intent, so "intent present, staging gone"
          // on a non-empty produce proves a rollback raced the heartbeat's
          // read-then-write — committing would advance the watermark over
          // ZERO files (silent loss)
          if (counts.valuesIterator.sum > 0 &&
              !fs.exists(produceStagingDir(name, intentId)))
            throw new IllegalStateException(
              s"topic '$name': produce intent '$intentId' staging is gone " +
              "(a rollback raced the lease heartbeat) — this produce did " +
              "not commit; retry it")
          // a gap below our reservation is decided-dead: every intent that
          // covered it rolled back, and nothing can re-reserve it while
          // our intent floors new reservations above us. PURGE unknown
          // files inside the gap now — a commit that crashed between its
          // renames and its manifest write left them, and once the
          // watermark advances past they would sit below every later
          // purge's signature, adoptable by a legacy manifest heal
          // (row resurrection).
          val gaps: Map[Int, (Long, Long)] = firstIds.flatMap { case (p, f) =>
            val w = wm.getOrElse(p, 0L)
            if (f > w) Some(p -> (w, f)) else None
          }
          if (gaps.nonEmpty) {
            markIdGaps(name)
            purgeGapOrphans(name, gaps)
          }
          // the manifest delta, carrying the written partitions' new
          // watermarks, is the commit point
          val ends = counts.map { case (p, c) => p -> (firstIds(p) + c) }
          commitChunks(name, produceStagingDir(name, intentId), chunks, dropStaging = false)(
            Catalog.profTimed("commit.manifest")(
              updateManifest(name, ends, excludeGap = gaps, produced = chunks)))
          fs.delete(intentPath(name, intentId), false): Unit
          fs.delete(intentLeasePath(name, intentId), false): Unit
          fs.delete(produceStagingDir(name, intentId), true): Unit
          committed = true
        } else {
          // keep OUR lease fresh while queued (the write-phase heartbeat
          // stopped before the commit): a commit blocked behind a slow
          // predecessor longer than the intent horizon must not have its
          // staged data janitored away mid-wait. Throttled — one refresh
          // per horizon/4, not one per 100ms poll (metadata round trips)
          if (System.currentTimeMillis() - lastTouch >
              math.max(1L, produceIntentTimeoutMs / 4)) {
            // transient store error here must not abort a commit that is
            // merely queued — the touch retries at the next throttle tick,
            // same per-beat tolerance as the write-phase heartbeat
            try { touchProduceIntent(name, intentId): Unit }
            catch { case scala.util.control.NonFatal(_) => () }
            lastTouch = System.currentTimeMillis()
          }
          // roll back stale blockers NOW (store-clock judged); wait out
          // fresh ones
          val timeout = produceIntentTimeoutMs
          lazy val now = storeNowMs(intentsDir(name))
          val localNow = localNowMs
          blockers.foreach { case (id, _, m) =>
            if (localNow - m > timeout && now - m > timeout) {
              Catalog.log.warn(s"topic '$name': rolling back stale produce " +
                s"intent '$id' blocking commit of '$intentId'")
              rollbackProduceIntentLocked(name, id)
            }
          }
        }
      } finally releaseProduceLock(name)
      if (committed) return
      if (System.currentTimeMillis() >= deadline)
        throw new LockConflictException(
          s"topic '$name': produce commit '$intentId' timed out waiting " +
          "for earlier concurrent produces to commit — increase " +
          "spark.graft.produce.commitWaitMs, or inspect the blockers via " +
          s"CALL <catalog>.system.produce_intents('$name') / " +
          "TopicHandle.produceIntents()")
      // exponential backoff: each blocked iteration costs lock churn plus
      // metadata reads, which an object store bills per request
      Thread.sleep(backoffMs)
      backoffMs = math.min(backoffMs * 2, 2000L)
    }
  }

  /** Delete log chunk files whose footer ids START inside a decided-dead
    * gap (lock held) — the debris of a commit that crashed between its
    * staged-file renames and its manifest write. Must run BEFORE the
    * gap-advance: afterwards the files sit below the watermark, outside
    * every purge signature. The footer judgment alone is sufficient —
    * every committed row lies below the pre-commit watermark, so a file
    * whose ids start inside [watermark, reservation) cannot be committed
    * data; the manifest (when present) merely narrows the candidates,
    * and then a torn candidate is quarantined ([[purgeUnregistered]]). */
  private def purgeGapOrphans(name: String, gaps: Map[Int, (Long, Long)]): Unit =
    purgeUnregistered(name, gaps.keys)((p, lo) => lo >= gaps(p)._1 && lo < gaps(p)._2)

  /** Move a commit's reported `chunks` from `staging` into the log, then
    * run `register`, the manifest delta that is the commit point (lock
    * held). In between, the moved files are covered only by the caller's
    * crash marker: the intent record, or the `held-*` staging dir of a
    * lock-held produce, which goes here (`dropStaging`) once they are
    * registered. A non-crash failure in between deletes the moved files
    * again by their reported names before it propagates — unless the
    * manifest's watermark shows the commit point landed first, which makes
    * them committed data — so the marker may go; the `held-*` dir goes
    * with them. If that cleanup fails too, the marker stays for the next
    * entry's purge. */
  private[engine] def commitChunks(name: String, staging: Path, chunks: Seq[ChunkReport],
                                   dropStaging: Boolean)(register: => Unit): Unit = {
    try {
      Catalog.profTimed("commit.move")(moveChunks(name, staging, chunks))
      Catalog.beforeRegister(staging)
      register
    } catch {
      case t: Throwable =>
        try {
          val landed = readManifest(name).exists(m =>
            chunks.forall(c => m.watermarks.getOrElse(c.partition, 0L) > c.last))
          if (!landed) chunks.foreach(c => fs.delete(new Path(logPath(name), c.rel), false): Unit)
          if (dropStaging) deleteStaging(staging)
        } catch { case scala.util.control.NonFatal(e) => t.addSuppressed(e) }
        throw t
    }
    if (dropStaging) deleteStaging(staging)
  }

  /** Rename a commit's reported chunk files from its staging dir into the
    * log (lock held). Nothing else in the staging dir is ever moved. */
  private[engine] def moveChunks(name: String, staging: Path,
                                 chunks: Seq[ChunkReport]): Unit =
    chunks.groupBy(_.partition).foreach { case (p, cs) =>
      val dst = new Path(logPath(name), s"partition=$p")
      FileCreate.mkdirs(fs, dst): Unit
      cs.foreach { c =>
        if (!fs.rename(new Path(staging, c.rel), new Path(dst, c.file)))
          throw new java.io.IOException(
            s"produce commit: cannot move staged chunk ${c.rel} of $staging into $dst")
      }
    }

  /** The advisory drain-request marker ([[acquireProduceLockDraining]]'s
    * writer-preference barrier). */
  private[engine] def drainRequestPath(name: String): Path =
    new Path(topicPath(name), "_drain.request")

  /** How recently the drain request must have been refreshed to pause new
    * reservations (catalog-scoped). Must exceed the draining gate's max
    * loop backoff (2s) so a waiting drainer never looks momentarily
    * absent; kept small so writers resume within seconds of the drain
    * ending however it ends (crash included — staleness IS the release
    * protocol; the explicit delete is just the fast path). */
  private[graft] def drainRequestFreshMs: Long =
    conf("spark.graft.produce.drainRequestFreshMs", "5000").toLong

  /** Writer-side half of the drain barrier: pause BEFORE reserving a new
    * intent while an exclusive statement is actively draining. LIVENESS
    * ONLY, never safety — the ordered-commit invariant is enforced by the
    * gate itself; this merely stops a steady writer stream from starving
    * it (measured: 3 back-to-back writers held an exclusive statement out
    * for 38s of a 45s budget before this barrier, ~1 batch-time after).
    * Only NEW reservations pause — in-flight intents keep writing and
    * COMMITTING (the commit path never calls this), which is exactly what
    * lets the gate see an empty intent list one batch later. The age test
    * compares a store-stamped mtime with the local clock: local-ahead
    * skew ends a pause early (drain just takes longer — safe), and the
    * deadline bounds the stall if a request file somehow keeps a fresh
    * mtime forever. */
  private[engine] def awaitDrainRequestClear(name: String): Unit = {
    val p = drainRequestPath(name)
    val freshMs = drainRequestFreshMs
    def exists: Boolean =
      try { fs.getFileStatus(p); true }
      catch {
        case _: java.io.FileNotFoundException => false
        case scala.util.control.NonFatal(_) => false
      }
    if (!exists) return // common case: ONE stat on an absent marker
    // freshness is judged STORE-clock vs store-clock (the marker's mtime
    // is a store stamp): the store-vs-local offset is probed once per
    // pause — store-ahead skew would otherwise make a crashed drainer's
    // leaked marker read fresh for the whole skew, stalling every produce
    // on the topic. One probe write, paid only when a marker exists.
    val offset = storeNowMs(topicPath(name)) - System.currentTimeMillis()
    def fresh: Boolean =
      try (System.currentTimeMillis() + offset) -
        fs.getFileStatus(p).getModificationTime < freshMs
      catch {
        case _: java.io.FileNotFoundException => false
        case scala.util.control.NonFatal(_) => false
      }
    val deadline = System.currentTimeMillis() + produceCommitWaitMs + 2 * freshMs
    var backoffMs = 150L
    while (fresh && System.currentTimeMillis() < deadline) {
      Thread.sleep(backoffMs)
      backoffMs = math.min(backoffMs * 2, 1000L) // bound store HEAD traffic
    }
  }

  /**
   * Acquire the produce lock AND drain concurrent produce intents — the
   * entry gate for exclusive-statement writers (transactional/idempotent
   * produce, SQL MERGE) that hold the lock across their data write: their
   * watermark commit would otherwise jump over a live reservation's
   * un-committed range, breaking the ordered-commit invariant. Stale
   * intents roll back immediately; fresh ones are waited out (bounded by
   * [[produceCommitWaitMs]], catalog-scoped). Returns holding the lock.
   *
   * WRITER PREFERENCE: a gate that only waits for a spontaneous
   * zero-intent instant starves under a steady writer stream (each new
   * batch reserves before the last one commits). After the first failed
   * check the gate plants and keeps refreshing `_drain.request`;
   * [[awaitDrainRequestClear]] makes plain produces pause their NEXT
   * reservation while the marker is fresh, so in-flight intents drain and
   * the gate is admitted in roughly one batch time. The marker is
   * advisory (liveness only): it is deleted on every exit and, for
   * crashed drainers, goes stale within [[drainRequestFreshMs]] — several
   * concurrent drainers keep it fresh jointly (a delete by one is
   * re-created by the others' next loop within the freshness window).
   */
  private[engine] def acquireProduceLockDraining(name: String): Unit = {
    val deadline = System.currentTimeMillis() + produceCommitWaitMs
    var backoffMs = 100L
    val request = drainRequestPath(name)
    // The marker is kept fresh by a DEDICATED daemon, not by the gate's
    // own loop: a loop iteration includes a lock acquisition (patience up
    // to briefLockWaitMs) plus intent-listing I/O, during which an
    // in-loop refresh would stall and the marker could go stale mid-drain
    // — re-admitting the writer stream against exactly the contended
    // conditions the barrier targets. The keeper refreshes every
    // freshMs/3 regardless of where the gate's loop is blocked; each
    // concurrent drainer runs its own keeper, so an admitted sibling's
    // delete is re-planted within one keeper period.
    var keeper: Thread = null
    def ensureKeeper(): Unit = if (keeper == null) {
      try FileCreate.touch(fs, request)
      catch { case scala.util.control.NonFatal(_) => () } // advisory only
      val period = math.max(200L, drainRequestFreshMs / 3)
      val t = new Thread(() => {
        try while (!Thread.currentThread().isInterrupted) {
          Thread.sleep(period)
          try FileCreate.touch(fs, request)
          catch { case scala.util.control.NonFatal(_) => () }
        } catch { case _: InterruptedException => () }
      }, s"graft-drain-request-$name")
      t.setDaemon(true); t.start()
      keeper = t
    }
    try {
      while (true) {
        acquireProduceLock(name, briefLockWaitMs)
        val live =
          try {
            rollbackStaleIntentsLocked(name): Unit
            listProduceIntents(name)
          } catch { case t: Throwable => releaseProduceLock(name); throw t }
        if (live.isEmpty) return // lock HELD (finally retires the request)
        releaseProduceLock(name)
        ensureKeeper()
        if (System.currentTimeMillis() >= deadline)
          throw new LockConflictException(
            s"topic '$name': cannot start an exclusive produce statement " +
            s"while concurrent produces are in flight (intents: " +
            s"${live.map(_._1).mkString(", ")}) — retry after they commit; " +
            "inspect them via CALL <catalog>.system.produce_intents" +
            s"('$name') or TopicHandle.produceIntents()")
        Thread.sleep(backoffMs)
        backoffMs = math.min(backoffMs * 2, 2000L)
      }
    } finally if (keeper != null) {
      keeper.interrupt()
      keeper.join(2000) // a beat mid-create past this ages out harmlessly
      try fs.delete(request, false): Unit
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  // -- SQL MERGE cross-commit intents (see MergeCommit) ----------------------

  private def mergesDir(name: String): Path = new Path(topicPath(name), "_merges")
  private def mergeIntentPath(name: String, mergeId: String): Path =
    new Path(mergesDir(name), s"${validComponent("merge id", mergeId)}.json")

  private[engine] def writeMergeIntent(name: String, mergeId: String,
                                       intent: MergeIntent): Unit = {
    FileCreate.mkdirs(fs, mergesDir(name))
    writeAtomic(mergeIntentPath(name, mergeId), intent.toJson)
  }

  private[engine] def mergeIntent(name: String, mergeId: String): Option[MergeIntent] =
    readStringResilient(mergeIntentPath(name, mergeId)).map(MergeIntent.fromJson)

  private[engine] def removeMergeIntent(name: String, mergeId: String): Unit =
    fs.delete(mergeIntentPath(name, mergeId), false): Unit

  /** All merge intents of a topic (small: at most one live merge plus
    * crashed leftovers awaiting reconciliation). */
  private[graft] def listMergeIntents(name: String): Map[String, MergeIntent] = {
    val dir = mergesDir(name)
    if (!fs.exists(dir)) Map.empty
    else fs.listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".json") &&
        !s.getPath.getName.startsWith("."))
      .flatMap(s => readStringResilient(s.getPath)
        .map(j => s.getPath.getName.stripSuffix(".json") -> MergeIntent.fromJson(j)))
      .toMap
  }

  /**
   * Decide crashed MERGE intents (see [[MergeCommit]]'s protocol) — caller
   * holds the produce lock, so this runs before any new ids can be
   * assigned, exactly like the txn/pid reconciliation above:
   *
   *  - produce ranges fully below the watermark ⇒ the merge's produce
   *    committed ⇒ roll FORWARD: re-run its vector delete (idempotent —
   *    already-vectored ids drop out) and clean up. Skipped while the
   *    merge driver's staging heartbeat is fresh: a LIVE merge past its
   *    produce commit is mid-delete-phase and finishes on its own (a dead
   *    one's heartbeat goes stale within the horizon, and the next entry
   *    rolls it forward);
   *  - ranges absent or not covered ⇒ the produce died before its id
   *    commit (that window runs entirely under the produce lock WE now
   *    hold, so the merge is provably dead regardless of marker age — and
   *    its ids were never issued) ⇒ roll BACK: nothing is visible; drop
   *    the intent and its staging before this entry can re-issue the ids.
   */
  private def reconcileMergeState(name: String): Map[String, MergeIntent] = {
    val dir = mergesDir(name)
    if (!fs.exists(dir)) return Map.empty
    listMergeIntents(name).flatMap { case (mergeId, intent) =>
      lazy val wm = nextIds(name)
      val committed = intent.produceCommitted(wm)
      if (committed && mergeMarkerFresh(intent)) {
        // a LIVE merge mid-delete-phase: survives — returned so callers
        // (MergeCommit's serialization gate) reuse THIS listing instead
        // of re-listing the directory inside the commit window
        Some(mergeId -> intent)
      } else {
        if (committed) {
          // roll-forward runs under the produce lock the caller holds; the
          // vector commit's compact lock allows exactly this composition
          // (flag-scoped — see acquireCompactLock)
          Catalog.mergeRecoveryInProgress.set(true)
          try deleteIdsVectored(name, MergeCommit.deleteActions(spark, intent.files)): Unit
          finally Catalog.mergeRecoveryInProgress.set(false)
        }
        // intent FIRST, staging second: a crash between the two leaves an
        // orphan markerless staging dir (vacuum reaps it past the horizon)
        // — the reverse order left an intent whose roll-forward input was
        // gone, wedging every later produce-path entry on this topic
        removeMergeIntent(name, mergeId)
        fs.delete(new Path(intent.stagingDir), true): Unit
        None
      }
    }
  }

  /** Best-effort merge recovery for paths that don't already hold the
    * produce lock (cron maintenance, a MERGE's own plan-time target scan):
    * decide pending intents NOW when the topic is free, skip quietly when
    * it is busy — every produce-path ENTRY reconciles unconditionally, so
    * the guarantee never rides on this helper. The empty-intents pre-check
    * keeps the common case at one directory probe, no lock taken. */
  private[graft] def recoverPendingMerges(name: String): Unit =
    if (listMergeIntents(name).nonEmpty) {
      // ONLY the lock acquisition is allowed to no-op (busy topic: the
      // lock holder reconciles at its own entry). A failure INSIDE the
      // reconcile — e.g. the roll-forward's vector commit refused by a
      // live compaction — must stay loud: swallowing it would let a
      // retried MERGE plan over the torn duplicate view.
      val acquired =
        try { acquireProduceLock(name); true }
        catch { case _: LockConflictException => false }
      if (acquired)
        try reconcileProduceState(name): Unit
        finally releaseProduceLock(name)
    }

  /** THE merge-staging liveness rule (one definition — vacuum's reap and
    * recovery's skip must never disagree): the `_inprogress` heartbeat
    * marker's mtime against the staleness horizon. A missing marker reads
    * as `fallback`: vacuum falls back to the dir's own mtime (a young
    * markerless dir may predate marker creation), recovery reads it as
    * DEAD — the marker is created before any staged write and deleted the
    * moment a driver abandons its merge, precisely so recovery need not
    * wait out the horizon. */
  private def stagingMarkerFresh(dir: Path, horizonMs: Long,
                                 fallback: => Boolean): Boolean =
    try fs.getFileStatus(new Path(dir, "_inprogress"))
      .getModificationTime >= horizonMs
    catch { case _: java.io.FileNotFoundException => fallback }

  private def mergeMarkerFresh(intent: MergeIntent): Boolean =
    stagingMarkerFresh(new Path(intent.stagingDir),
      System.currentTimeMillis() - Catalog.CompactLockStaleMs, fallback = false)

  // -- streaming-sink commit markers (replay idempotence) -------------------

  private def sinkPath(topic: String, sinkId: String): Path =
    new Path(new Path(topicPath(topic), "_sinks"),
      s"${validComponent("sink id", sinkId)}.json")

  /** Last micro-batch id produced into `topic` by sink `sinkId`, if any. */
  def sinkCommit(topic: String, sinkId: String): Option[Long] =
    readStringResilient(sinkPath(topic, sinkId)).map { json =>
      JsonMethods.parse(json) \ "last" match {
        case JInt(v) => v.toLong
        case JLong(v) => v
        case other => throw new IllegalStateException(
          s"bad sink marker: ${JsonMethods.compact(other)}")
      }
    }

  def writeSinkCommit(topic: String, sinkId: String, batchId: Long): Unit =
    writeAtomic(sinkPath(topic, sinkId),
      JsonMethods.compact(JsonMethods.render(JObject("last" -> JLong(batchId)))))

  // -- helpers --------------------------------------------------------------

  private def readString(p: Path): String = {
    val in = fs.open(p)
    val raw = try new String(
      org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8)
    finally in.close()
    // committed files carry the completeness trailer too — strip it;
    // pre-trailer files (or foreign content) pass through untouched
    Catalog.stripTrailer(raw).getOrElse(raw)
  }

  /** Read a small metadata file, tolerating `writeAtomic`'s delete→rename
    * window. Every per-trigger metadata read must come through here — an
    * exists-then-open pair would crash a streaming query on the race.
    *
    * The mid-rewrite window is detected by the writer's temp file
    * (`.name.tmp`): destination missing + temp present ⇒ a rename is in
    * flight ⇒ retry briefly. Destination missing + no temp ⇒ genuinely
    * absent ⇒ return None immediately — the common case (no cursor yet,
    * pre-manifest topic) pays no retries and no sleeps. If the temp
    * persists past the retries (writer crashed inside its window), the
    * temp IS the committed content — serve it (see [[writeAtomic]]). */
  /** getFileStatus riding `writeAtomic`'s delete→rename window, same
    * temp-file detection as [[readStringResilient]]: FNF with the writer's
    * temp present ⇒ a rename is in flight ⇒ retry; FNF with no temp ⇒
    * genuinely absent (fast path, no sleeps). */
  private def statResilient(p: Path): Option[org.apache.hadoop.fs.FileStatus] = {
    val tmp = new Path(p.getParent, s".${p.getName}.tmp")
    var attempt = 0
    while (attempt < 4) {
      try return Some(fs.getFileStatus(p))
      catch {
        case _: java.io.FileNotFoundException =>
          if (!fs.exists(tmp)) return None
      }
      attempt += 1
      Thread.sleep(2L * attempt)
    }
    // retries exhausted: either the rename landed after our last probe
    // (serve the destination) or the writer died in its delete→rename
    // window (the tmp is the authoritative copy, see readStringResilient —
    // report its status so content reads and cache keys stay coherent)
    try {
      if (fs.exists(p)) Some(fs.getFileStatus(p))
      else Option(fs.getFileStatus(tmp))
        .filter(_ => readTmpIfComplete(tmp).isDefined)
    } catch { case _: java.io.FileNotFoundException => None }
  }

  private def readStringResilient(p: Path): Option[String] = {
    val tmp = new Path(p.getParent, s".${p.getName}.tmp")
    var attempt = 0
    while (attempt < 4) {
      try return Some(readString(p))
      catch {
        case _: java.io.FileNotFoundException =>
          if (!fs.exists(tmp)) return None
      }
      attempt += 1
      Thread.sleep(2L * attempt)
    }
    // retries exhausted: if the rename landed after our last probe, serve
    // the destination. Otherwise the writer died inside its delete→rename
    // window — the tmp is the COMPLETE intended content (the destination
    // is only deleted after the tmp's close), so serve it: a crashed txn
    // abort stays invisible, a crashed cursor advance holds, a crashed
    // producer-state write counts. Completeness is proven STRUCTURALLY (the
    // trailer's length stamp, written before close): "destination missing
    // + tmp present" also describes a LIVE writer's first-ever write
    // mid-flight — and on mtime-at-create filesystems a half-written temp
    // can look arbitrarily old, so age is not proof.
    try Some(readString(p))
    catch { case _: java.io.FileNotFoundException => readTmpIfComplete(tmp) }
  }

  /** A crashed writer's temp, served ONLY on structural proof of
    * completeness: a valid trailer (the close-time length stamp). A temp
    * without one is truncated-or-in-flight and is treated as not-yet-
    * written — age is never proof (on mtime-at-create filesystems a live
    * or crashed writer's half-written temp can look arbitrarily old).
    * One-time upgrade caveat, deliberate: a temp left by a PRE-trailer
    * binary's crash is also refused, trading that vanishing window for
    * never serving a truncated write as committed content. */
  private def readTmpIfComplete(tmp: Path): Option[String] =
    try {
      val in = fs.open(tmp)
      val raw = try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8)
      finally in.close()
      Catalog.stripTrailer(raw)
    } catch { case _: java.io.FileNotFoundException => None }

  /** Replace `p`'s content via write-tmp → delete → rename. The
    * delete→rename window is CRASH-RECOVERABLE, not atomic: the
    * destination is only deleted after the tmp's close succeeded, so
    * "destination missing + tmp present" proves the tmp holds the
    * intended content in full — and the resilient readers serve it (see
    * [[readStringResilient]]), so a crash in the window can never make a
    * committed write (txn abort, cursor advance, producer state) unread.
    * (A FileContext OVERWRITE rename would close the window outright but
    * measures ~4.6× slower per metadata write on checksummed local
    * filesystems — the produce path pays this several times per commit.) */
  private def writeAtomic(p: Path, content: String): Unit = {
    val tmp = new Path(p.getParent, s".${p.getName}.tmp")
    // the trailer is the STRUCTURAL completeness proof: a reader serving
    // a crashed writer's temp validates the trailer instead of trusting
    // file age (mtime-at-create filesystems would otherwise serve a live
    // writer's half-written temp as committed content)
    FileCreate.write(fs, tmp, Catalog.withTrailer(content).getBytes(StandardCharsets.UTF_8))
    fs.delete(p, false) // false when there is none
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"atomic write failed: rename $tmp -> $p")
  }
}

object Catalog {

  /** Phase wall-clock prints for the dev profiling loop (GRAFT_PROF=1) —
    * the one timer for produce phases (`produce.*`, including the
    * `produce.write.plan` / `produce.write.job` split) and commit phases
    * (`commit.*`). */
  private val profEnabled = sys.env.contains("GRAFT_PROF")
  private[engine] def profTimed[T](what: String)(body: => T): T =
    if (!profEnabled) body
    else {
      val t0 = System.nanoTime()
      try body
      finally Console.err.println(
        f"[prof] $what ${(System.nanoTime() - t0) / 1e6}%.0f ms")
    }

  /** Observability counter: number of `_deletes/` directory listings
    * ([[Catalog.deleteVectorFiles]] calls) since JVM start. Maintenance
    * must stay O(1) listings per run — specs diff this across a
    * `maintainTopic` call the way StreamingSpec diffs
    * `probePlannedEntries`. */
  private[graft] val deletesListings = new java.util.concurrent.atomic.AtomicLong

  /** Marker file a fold writes INTO each superseded input root: marked
    * roots disappear from listings but stay physically readable for
    * in-flight plans; vacuum reaps them past the staleness horizon. */
  private[engine] val FoldedMarker = "_folded"

  /** A delete-vector root's transaction gate, when present: (txnId, its
    * state — `open` | `aborted` | `missing`; committed gates resolve to
    * visibility inside [[Catalog.vectorRootInventory]] and are never
    * returned). */
  private[engine] final case class VectorGate(txnId: String, state: String)

  /** Transaction gate inside a delete-vector root (or its `txn-` staging
    * dir): a file holding the owning transaction id. While present, the
    * root is visible ONLY once that transaction's state reads `committed`
    * — the mechanism that makes a multi-statement transaction's deletes
    * and produces flip visible in ONE atomic state write
    * ([[Catalog.commitTxn]]). */
  private[engine] val TxnGateMarker = "_txn"

  /** What a write-path entry's [[Catalog.reconcileProduceState]] leaves:
    * the committed id watermark and the merge intents still live. */
  private[engine] final case class Reconciled(watermark: Map[Int, Long],
                                              liveMerges: Map[String, MergeIntent])

  /** Test seam: called in the committing thread after a produce commit
    * moved its chunks into the log, before their manifest entry, with the
    * commit's staging dir. */
  @volatile private[engine] var beforeRegister: Path => Unit = _ => ()

  /** Lock staleness horizon (produce AND compact locks): a lock file whose
    * mtime is older than this is presumed a crashed owner's leftover and
    * reclaimed. A LIVE owner is never at risk of aging past it: while a
    * lock is held, a daemon heartbeat refreshes the file's mtime every
    * third of this window, so only a crashed process's file ever goes
    * stale. Var (not val) so tests can compress the window. */
  @volatile var CompactLockStaleMs: Long = 30L * 60 * 1000

  /** Default `spark.graft.txn.timeoutMs`: an OPEN transaction whose state
    * file has not been written for longer than this is ABANDONED and
    * auto-aborted by the next write-path entry or [[Catalog.maintainTopic]]
    * pass (the Kafka `transaction.timeout.ms` analog — its broker-side
    * ceiling defaults to 15 minutes too). Every state write is a
    * heartbeat; `<= 0` disables the gate. */
  private[graft] val TxnTimeoutMsDefault: Long = 15L * 60 * 1000

  /** Default `spark.graft.txn.abortedRetainMs`: decided-dead transaction
    * debris (aborted records, dead remote shares) younger than this is
    * left alone by [[Catalog.maintainTopic]]'s purge — in-flight readers
    * may still have planned against the records, and a just-aborted
    * transaction's purge can wait for the next cron pass. */
  private[graft] val TxnAbortedRetainMsDefault: Long = 10L * 60 * 1000

  /** Default `spark.graft.txn.maxAbortedRecords`: [[Catalog.maintainTopic]]
    * purges transaction debris once MORE THAN this many aged decided-dead
    * records exist — the same bounded-by-construction shape as the
    * >4-delete-vector fold trigger (each record costs every
    * read_committed plan an exclusion range). */
  private[graft] val TxnMaxAbortedRecordsDefault: Int = 4

  /** Snapshot cadence of the manifest log: a full snapshot is rolled (and
    * folded-in entries deleted) every this-many delta commits, bounding both
    * the reader's assembly work and the log directory size. Var so tests can
    * compress it. */
  @volatile var ManifestSnapshotEvery: Int = 64

  /** Completeness trailer for [[Catalog.writeAtomic]] metadata files: the
    * content followed by one line stamping the content's UTF-8 byte
    * length. A reader that finds a crashed writer's temp proves the temp
    * complete by validating the stamp — a truncated write can never
    * produce a prefix whose trailing stamp matches its own length,
    * because any prefix containing the full trailer IS the full file.
    *
    * ON-DISK FORMAT NOTE (one-way change, introduced round 10): trailer
    * binaries strip the stamp on read and pre-trailer files (no stamp)
    * still parse, but the reverse does not hold — a PRE-trailer binary
    * fails to parse a trailer file's trailing bytes as JSON, and a
    * trailer binary refuses a pre-trailer binary's crashed temp (age is
    * never proof). Upgrade ordering for a SHARED warehouse: upgrade every
    * reader before any writer; never run mixed versions against one
    * warehouse past the first post-upgrade metadata write. */
  private[engine] val TrailerMark = "\n#graft-eof:"

  private[engine] def withTrailer(content: String): String =
    content + TrailerMark + content.getBytes(StandardCharsets.UTF_8).length

  /** Some(content) when `raw` ends in a valid trailer; None otherwise
    * (truncated, trailer-less, or foreign content). */
  private[engine] def stripTrailer(raw: String): Option[String] = {
    val idx = raw.lastIndexOf(TrailerMark)
    if (idx < 0) None
    else {
      val content = raw.substring(0, idx)
      val stamp = raw.substring(idx + TrailerMark.length)
      stamp.toLongOption
        .filter(_ == content.getBytes(StandardCharsets.UTF_8).length.toLong)
        .map(_ => content)
    }
  }

  /** Max manifest file entries kept as driver-side JSON. Past it, snapshot
    * rolls move the file list into a parquet relation (the JSON keeps
    * watermarks + a reference) and planners prune it AS A RELATION,
    * collecting only kept paths — the same two-path threshold the index
    * planners use (`spark.graft.index.driverPlanMaxEntries`). Tests set the
    * conf to 0 to force the relation path on small fixtures. */
  def manifestDriverMax(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("spark.graft.manifest.driverMaxEntries").map { v =>
      try v.trim.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"spark.graft.manifest.driverMaxEntries must be a long, got '$v'")
      }
    }.getOrElse(65536L)

  /** Does a FileNotFoundException sit at the root of this failure? The
    * signature of a reader racing a relation roll (manifest snapshot, tier
    * archive, index swap) — retryable once, the fresh read sees the rolled
    * state. */
  def rootIsFnf(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
      .exists(_.isInstanceOf[java.io.FileNotFoundException])

  /** Run `body`, retrying ONCE if a relation-roll race (see [[rootIsFnf]])
    * aborts it; a second miss propagates (real trouble, not a race). */
  def retryOnRollRace[A](body: => A): A =
    try body catch { case e: Throwable if rootIsFnf(e) => body }

  /** Engine log (slf4j, same backend Spark's own logging rides). Used for
    * conditions that are survivable but must not be silent — e.g. a cron
    * maintenance pass whose merge-recovery prologue keeps failing. */
  private[graft] val log: org.slf4j.Logger =
    org.slf4j.LoggerFactory.getLogger("graft.engine.Catalog")

  /** How long `Producer.produce` waits for a contended produce lock before
    * throwing. 0 (default) = fail fast (safe-by-rejection); > 0 = bounded
    * wait, which SERIALIZES well-behaved concurrent producers the way the
    * reference's write queue does. JVM-wide DEFAULT only — reads go
    * through the catalog-scoped `spark.graft.produce.lockWaitMs` conf
    * ([[Catalog.produceLockWaitMs]]), so per-catalog pins use
    * `setConfOverride`, not this var. */
  @volatile var ProduceLockWaitMs: Long = 0L

  /** How long a concurrent produce's ORDERED commit waits for its
    * predecessors (earlier reservations on shared partitions) to commit
    * or go stale, and how long an exclusive-statement writer waits for
    * live intents to drain ([[Catalog.acquireProduceLockDraining]]). The
    * wait is the other producers' DATA-WRITE time, so the default is
    * generous. JVM-wide DEFAULT only — reads go through the catalog-scoped
    * `spark.graft.produce.commitWaitMs` conf
    * ([[Catalog.produceCommitWaitMs]]); tests compress via
    * `setConfOverride`. */
  @volatile var ProduceCommitWaitMs: Long = 10L * 60 * 1000

  /** Patience floor for the protocol's BRIEF lock sections (reservation,
    * ordered commit): millisecond-length holds contending with each other
    * must serialize, not reject, whatever ProduceLockWaitMs says.
    * JVM-wide DEFAULT only — reads go through the catalog-scoped
    * `spark.graft.produce.briefLockWaitMs` conf
    * ([[Catalog.briefLockWaitMs]]). */
  @volatile var BriefLockWaitMs: Long = 30L * 1000

  /** How long a MERGE's phase-2 vector-delete commit retries through
    * ROUTINE lock conflicts (a concurrent producer's commit, a live
    * compaction) before surfacing the error. The produce half is already
    * committed by then, so giving up leaves the documented
    * transient-duplicate state until recovery rolls forward — patience
    * here is what keeps a mere lock conflict from looking like a torn
    * statement. JVM-wide DEFAULT only — reads go through the
    * catalog-scoped `spark.graft.merge.commitWaitMs` conf
    * ([[Catalog.mergeCommitWaitMs]]); tests compress via
    * `setConfOverride`. */
  @volatile var MergeCommitWaitMs: Long = 60000L

  /** A held lock's owner: the acquiring thread (for liveness-based
    * same-JVM arbitration — only a DEAD owner's entry is reclaimable, and
    * only the owning thread may release) and the acquisition time (for
    * error messages). */
  /** Scopes [[Catalog.acquireCompactLock]]'s one sanctioned nesting: merge
    * recovery committing a vector delete under the produce lock it
    * reconciles under. Set ONLY around that call. */
  private[engine] val mergeRecoveryInProgress: ThreadLocal[java.lang.Boolean] =
    ThreadLocal.withInitial(() => java.lang.Boolean.FALSE)

  private[engine] final case class LockOwner(thread: Thread, since: Long)

  /** JVM-wide held-lock registry: lock-file path → owner. `putIfAbsent`
    * gives concurrent acquirers IN ONE PROCESS exact mutual exclusion —
    * `create(overwrite=false)` alone is check-then-act on the local
    * filesystem, so two same-JVM threads could both win the file race.
    * Cross-process arbitration stays with the lock file. */
  private[engine] val heldLocks =
    new java.util.concurrent.ConcurrentHashMap[String, LockOwner]()

  /** JVM-wide override registry backing [[Catalog.setConfOverride]],
    * keyed by qualified warehouse path — see the instance accessors'
    * scoping note. ONLY warehouses that called `setConfOverride` hold an
    * entry (reads never insert), so override-free catalogs — the vast
    * majority in a long-lived service — leak nothing here. */
  private[engine] val warehouseOverrides = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.ConcurrentHashMap[String, String]]()

  /** Heartbeat tasks for locks held by this JVM, keyed like [[heldLocks]].
    * Each task refreshes its lock file's mtime every `CompactLockStaleMs/3`
    * while the owning thread is alive, so a produce or compaction running
    * longer than the staleness horizon cannot be mistaken for a crash and
    * reclaimed mid-run by another process. A dead owner's task cancels
    * itself — its file then ages out normally, which is exactly the crash
    * signal the horizon exists to detect. */
  /** One lock heartbeat's handle: the scheduled task plus the QUIESCE
    * gate ([[stopLockHeartbeat]] takes the same monitor a beat holds for
    * its whole body, so once a stop returns no in-flight beat can still
    * be mid-refresh — the same discipline as [[startFileHeartbeat]]'s
    * cancel thunk, and what makes release-then-delete race-free against
    * a write-based beat's re-create on setTimes-deaf stores). */
  private final case class LockBeat(
      fut: java.util.concurrent.ScheduledFuture[_],
      gate: Object,
      stopped: java.util.concurrent.atomic.AtomicBoolean)

  private val lockHeartbeats =
    new java.util.concurrent.ConcurrentHashMap[String, LockBeat]()

  private lazy val heartbeatExec = {
    val e = new java.util.concurrent.ScheduledThreadPoolExecutor(1, (r: Runnable) => {
      val t = new Thread(r, "graft-lock-heartbeat"); t.setDaemon(true); t
    })
    e.setRemoveOnCancelPolicy(true)
    e
  }

  /** Generic mtime heartbeat on one liveness-marker file (e.g. a long
    * MERGE's staging dir): refreshed every third of the staleness horizon
    * until the returned cancel thunk runs, so vacuum can tell a live slow
    * job's staging from a dead driver's (whose marker simply ages out).
    * The refresh RE-CREATES the (empty) marker rather than `setTimes` —
    * object stores (s3a) silently no-op setTimes, and a heartbeat that
    * silently stops beating is exactly the failure it exists to prevent. */
  private[graft] def startFileHeartbeat(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): () => Unit = {
    val period = math.max(CompactLockStaleMs / 3, 1000L)
    // the cancel thunk QUIESCES: it takes the same monitor the beat holds
    // while re-creating the marker, so once it returns no in-flight beat
    // can land a fresh marker AFTER the caller deletes it (cancel(false)
    // alone only prevents FUTURE runs — a beat already inside fs.create,
    // slow on an object store, would otherwise resurrect the marker and
    // make an abandoned merge look live for the whole staleness horizon)
    val gate = new Object
    @volatile var stopped = false
    val fut = heartbeatExec.scheduleWithFixedDelay(
      () => gate.synchronized {
        if (!stopped)
          try FileCreate.touch(fs, p)
          catch { case scala.util.control.NonFatal(_) => () }
      },
      period, period, java.util.concurrent.TimeUnit.MILLISECONDS)
    () => {
      gate.synchronized { stopped = true }
      fut.cancel(false): Unit
    }
  }

  /** Schemes whose `create(overwrite = false)` is an ATOMIC cross-process
    * arbiter by contract (namenode-serialized). `file:` is handled
    * separately — Hadoop's local create(false) is exists-check-then-create,
    * so lock creates there route through nio O_EXCL (kernel-arbitrated)
    * instead. Everything else (s3a, gs, abfs, test shims) is presumed
    * CHECK-THEN-PUT: two racing creates can both "succeed", so the create
    * alone cannot arbitrate. */
  private val AtomicExclusiveCreateSchemes = Set("hdfs", "viewfs")

  /** Hadoop 3.4+ conditional-create option key
    * (`Options.CreateFileOptionKeys.FS_OPTION_CREATE_CONDITIONAL_OVERWRITE`,
    * inlined so the engine compiles against older 3.x too): a store that
    * advertises it as a path capability arbitrates the create ITSELF with
    * an If-None-Match PUT — exact cross-process exclusion with no settle
    * window and no read-back. s3a exposes this from Hadoop 3.4.1 when
    * `fs.s3a.create.conditional.enabled` (default true) is on. */
  private val ConditionalCreateCapability = "fs.option.create.conditional.overwrite"

  /** Per-store memoized verdict: does the store advertise AND accept the
    * conditional-create option? Downgraded to `false` permanently if the
    * builder rejects the mandatory key despite the advertisement. */
  private val conditionalCreateCapable =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  private def conditionalCreateSupported(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Boolean = {
    val key = fs.getUri.toString
    val known = conditionalCreateCapable.get(key)
    if (known != null) known.booleanValue()
    else {
      val cap =
        try fs.hasPathCapability(p, ConditionalCreateCapability)
        catch { case scala.util.control.NonFatal(_) => false }
      conditionalCreateCapable.put(key, cap)
      cap
    }
  }

  /** Create `p` as a lock file with cross-process arbitration matched to
    * the store's posture (VERDICT r16 top_next — pre-r17, two producers in
    * DIFFERENT processes racing one topic on an object store could both
    * win `fs.create(p, overwrite=false)` and issue the same ids twice,
    * the exact failure the lock exists to prevent):
    *
    *  - `file:` — nio `CREATE_NEW` (O_EXCL): the kernel arbitrates, exact.
    *  - [[AtomicExclusiveCreateSchemes]] — `create(overwrite=false)`: the
    *    namenode arbitrates, exact.
    *  - anything else — create-then-VERIFY: land the payload (carrying a
    *    fresh nonce) with `create(overwrite=false)`, wait `verifyDelayMs`,
    *    read the file back, and win ONLY if the nonce read back is ours.
    *    On a check-then-put store a racing contender's PUT overwrites
    *    last-writer-wins, so after both PUTs have landed exactly one
    *    contender reads its own nonce — at most one proceeds. The residual
    *    window (a read-back that lands before the rival's PUT, which
    *    requires the rival's check→put gap to exceed `verifyDelayMs`)
    *    narrows with the delay and is documented; stores with true
    *    conditional-create (S3 If-None-Match via recent s3a) upgrade to
    *    exact by advertising nothing — their create(false) simply fails
    *    for the loser, same as HDFS.
    *
    * @return true iff this contender owns the lock file. False = someone
    *         else does (pre-existing file, or a racing contender whose
    *         payload survived the read-back). */
  private[engine] def createLockFileArbitrated(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path,
      verifyDelayMs: Long): Boolean = {
    val uri = fs.makeQualified(p).toUri
    val nonce = java.util.UUID.randomUUID().toString
    val payload = JsonMethods.compact(JsonMethods.render(JObject(
      "owner" -> JString(
        java.lang.management.ManagementFactory.getRuntimeMXBean.getName),
      "start" -> JLong(System.currentTimeMillis()),
      "nonce" -> JString(nonce)))).getBytes(StandardCharsets.UTF_8)
    if (uri.getScheme == "file") {
      def exclWrite(): Boolean =
        try {
          java.nio.file.Files.write(java.nio.file.Paths.get(uri.getPath),
            payload, java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      try exclWrite()
      catch { // unlike fs.create, O_EXCL does not auto-create parents
        case _: java.nio.file.NoSuchFileException =>
          FileCreate.mkdirs(fs, p.getParent); exclWrite()
      }
    } else {
      // A store advertising conditional create arbitrates exactly by
      // itself: the If-None-Match PUT fails AT CLOSE if the file exists,
      // so there is no check-then-put window, no settle, no read-back.
      // A builder that rejects the advertised mandatory key downgrades
      // the store's memo and falls through to the verified path.
      if (conditionalCreateSupported(fs, p)) {
        try {
          val out = fs.createFile(p)
            .overwrite(true) // the PUT condition replaces the client check
            .must(ConditionalCreateCapability, true)
            .build()
          try out.write(payload) finally out.close()
          return true
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
            return false
          case e: java.io.IOException
              // s3a surfaces the failed precondition (HTTP 412) as
              // RemoteFileChangedException — hadoop-aws is not on the
              // engine's compile classpath, so match by name
              if e.getClass.getSimpleName == "RemoteFileChangedException" =>
            return false
          case e @ (_: IllegalArgumentException |
                    _: UnsupportedOperationException) =>
            log.warn(s"store ${fs.getUri} advertises " +
              s"$ConditionalCreateCapability but rejected it (${e.getMessage}) " +
              "— lock creates fall back to nonce read-back verification")
            conditionalCreateCapable.put(fs.getUri.toString, false)
        }
      }
      val created =
        try {
          val out = fs.create(p, false)
          try out.write(payload) finally out.close()
          true
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      if (!created) false
      else if (AtomicExclusiveCreateSchemes.contains(uri.getScheme)) true
      else {
        if (verifyDelayMs > 0) Thread.sleep(verifyDelayMs)
        // The read-back must not silently concede on a transient read
        // error: OUR payload already landed, and returning false would
        // leave an owner-less, un-heartbeated lock file wedging the path
        // for the whole staleness horizon. Retry the read; a store that
        // cannot serve it at all fails LOUDLY (retryable store error),
        // never as a phantom "lost the race".
        var attempt = 0
        while (true) {
          try {
            val in = fs.open(p)
            val body = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
              finally in.close()
            return body.contains(nonce)
          } catch {
            case _: java.io.FileNotFoundException =>
              return false // a racing release/reclaim removed it: not ours
            case scala.util.control.NonFatal(e) =>
              if (attempt >= 2) throw new java.io.IOException(
                s"cannot verify lock-create ownership of $p: the payload " +
                "landed but every read-back failed — retry; an orphaned " +
                "file ages out after the staleness horizon", e)
              attempt += 1; Thread.sleep(50L << attempt)
          }
        }
        false // unreachable
      }
    }
  }

  /** The memoized [[refreshMtimeVerified]] verdict for `fs`, if probed:
    * `Some(true)` = setTimes works there (in-place heartbeats),
    * `Some(false)` = setTimes-deaf (write-based), `None` = no beat has
    * probed the store yet this JVM. Read by the `locks` admin view. */
  private[engine] def setTimesEffectiveFor(
      fs: org.apache.hadoop.fs.FileSystem): Option[Boolean] =
    Option(setTimesEffective.get(fs.getUri.toString)).map(_.booleanValue())

  /** Per-filesystem memoized verdict of [[refreshMtimeVerified]], keyed by
    * the fs URI: `true` = `setTimes` demonstrably advances mtimes on that
    * store; `false` = it is a silent no-op there. Hadoop's
    * `FileSystem.setTimes` DEFAULT is a silent no-op and s3a does not
    * override it, so on the advertised object-store posture a bare
    * `setTimes` heartbeat silently stops beating — exactly the failure a
    * heartbeat exists to prevent. One verification probe per store per
    * JVM, not one per beat. */
  private val setTimesEffective =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** Refresh `p`'s mtime via `setTimes`, VERIFYING effectiveness once per
    * filesystem: on the first refresh the mtime is read back — if it did
    * not advance past its prior value (the target is forced strictly above
    * it, so "unchanged" is proof of a no-op, never a same-millisecond
    * touch), the store is remembered as setTimes-deaf and every later call
    * returns `false` immediately. Returns `true` iff the mtime refresh
    * took effect in place; on `false` the caller MUST refresh through a
    * real write (marker re-create / sibling lease). Throws
    * `FileNotFoundException` if `p` is gone — deletion signals stay loud.
    *
    * Clock domains: `setTimes` stamps the LOCAL clock onto the store's
    * mtime, while a write-based refresh gets the STORE's clock. Both are
    * sound under the engine's two-step lease judgment because the cheap
    * candidate PRE-FILTER compares against the local clock (the same
    * domain as a setTimes stamp: a live beat always passes it) and the
    * confirming judgment against [[storeNowMs]] (the same domain as a
    * write stamp) — an intent must look stale to BOTH clocks to expire,
    * so neither skew direction can expire a live heartbeating producer in
    * either stamp mode. */
  private[engine] def refreshMtimeVerified(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Boolean = {
    val key = fs.getUri.toString
    val known = setTimesEffective.get(key)
    if (known != null) {
      if (!known.booleanValue()) return false
      fs.setTimes(p, System.currentTimeMillis(), -1L)
      return true
    }
    val before = fs.getFileStatus(p).getModificationTime
    val target = math.max(System.currentTimeMillis(), before + 1L)
    val worked =
      try {
        fs.setTimes(p, target, -1L)
        fs.getFileStatus(p).getModificationTime != before
      } catch { case _: UnsupportedOperationException => false }
    setTimesEffective.put(key, worked)
    if (!worked)
      log.warn(s"filesystem $key ignores setTimes (mtime unchanged after " +
        "refresh) — lease/lock heartbeats on this store switch to " +
        "write-based refresh permanently")
    worked
  }

  /** @param forceWrite pin the write-based refresh (the caller catalog's
    *        `spark.graft.heartbeat.forceWriteRefresh` escape hatch),
    *        bypassing the [[refreshMtimeVerified]] memo. */
  private[engine] def startLockHeartbeat(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path,
      forceWrite: Boolean = false): Unit = {
    val key = p.toString
    val period = math.max(CompactLockStaleMs / 3, 1000L)
    val gate = new Object
    val stopped = new java.util.concurrent.atomic.AtomicBoolean(false)
    // the whole beat body runs under the gate: [[stopLockHeartbeat]] (and
    // through it [[Catalog]]'s releaseLock) blocks until an in-flight
    // beat completes and every later beat sees `stopped` — so on a
    // setTimes-deaf store the create-overwrite refresh can NEVER land
    // after the release's file delete and resurrect a phantom lock. A
    // retraction heuristic cannot replace this: at beat time "some
    // registry entry exists" does not distinguish the released-then-
    // re-acquiring contender (whose fresh lock must be kept) from a
    // contender stuck behind our phantom (which must be removed).
    val task: Runnable = () => gate.synchronized {
      if (!stopped.get()) {
        val o = heldLocks.get(key)
        if (o == null || !o.thread.isAlive) stopLockHeartbeat(key)
        else try {
          if (forceWrite || !refreshMtimeVerified(fs, p)) {
            // store ignores setTimes: refresh through a create-overwrite
            // re-write (atomic PUT on object stores — the lock file is
            // never MISSING mid-refresh, unlike a delete→rename rewrite,
            // so a contender's staleness probe can never catch the lock
            // absent and steal it). Content is owner info for error
            // messages only; the mtime is the liveness signal
            // ([[lockAge]] reads only it).
            val out = fs.create(p, true)
            try out.write(JsonMethods.compact(JsonMethods.render(JObject(
              "owner" -> JString(
                java.lang.management.ManagementFactory.getRuntimeMXBean.getName),
              "start" -> JLong(o.since))))
              .getBytes(StandardCharsets.UTF_8))
            finally out.close()
          }
        } catch { case scala.util.control.NonFatal(_) => () }
      }
    }
    val fut = heartbeatExec.scheduleWithFixedDelay(
      task, period, period, java.util.concurrent.TimeUnit.MILLISECONDS)
    val prev = lockHeartbeats.put(key, LockBeat(fut, gate, stopped))
    if (prev != null) {
      prev.gate.synchronized { prev.stopped.set(true) }
      prev.fut.cancel(false): Unit
    }
  }

  private[engine] def stopLockHeartbeat(key: String): Unit = {
    val b = lockHeartbeats.remove(key)
    if (b != null) {
      // quiesce: taking the gate waits out an in-flight beat; setting
      // `stopped` under it kills every later one (cancel(false) alone
      // only prevents FUTURE scheduling). Reentrant for the beat's own
      // dead-owner self-stop (same thread already holds the gate).
      b.gate.synchronized { b.stopped.set(true) }
      b.fut.cancel(false): Unit
    }
  }

  /** Reader-side assembled view: the newest snapshot seq it was built from,
    * the last delta seq applied, and the result. Keyed on seqs — sound
    * because snapshot/delta files are immutable-by-name — plus `lastKey`,
    * the (mtime, len) of the log entry at `lastSeq` as seen when the cache
    * was filled: manifest-log entries are immutable BY
    * NAME within one topic's life, but a drop+recreate at the same path
    * restarts seqs at 1 — the key catches the recreated entry aliasing
    * the cached one, so a second Catalog instance that cached the dead
    * topic can never serve its manifest. */
  private[engine] final case class ManifestCacheEntry(
      snapSeq: Long, lastSeq: Long, manifest: TopicManifest,
      lastKey: (Long, Long) = (-1L, -1L))

  /** Apply a manifest delta: watermarks advance (later wins), new files
    * append per partition in commit order (= id order). A parquet-backed
    * base keeps its reference — deltas never carry one. */
  def applyManifestDelta(base: TopicManifest, d: TopicManifest): TopicManifest =
    TopicManifest(base.watermarks ++ d.watermarks,
      ChunkFiles.merge(base.files, d.files), base.filesRef,
      // the note annotates the COMMIT (e.g. "delete-vector"), so a
      // snapshot roll triggered by a noted delta keeps that delta's note
      d.note)

  /** THE canonical event schema (SURVEY §1.3) — the single definition the
    * consumer view, the DSv2 table, and log maintenance all read with, so a
    * schema evolution can never silently drop a column in one of them.
    *
    * `partition` is NULLABLE because it is optional on every INGEST path
    * (a NULL routes through the topic's partition selector — SQL
    * INSERT/MERGE must be able to assign NULL without tripping Spark's
    * not-null store assignment); every READ surface still emits it
    * non-null (the log stores the assigned partition). */
  val EventSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("partition", IntegerType, nullable = true),
      StructField("event_id", LongType, nullable = false),
      StructField("metadata", StringType),
      StructField("data", BinaryType)))
  }

  /** Deletion-vector relation: the (partition, event_id) key of every
    * vector-deleted event ([[Catalog.deleteWhereVectored]]). */
  val DeleteSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("partition", IntegerType, nullable = false),
      StructField("event_id", LongType, nullable = false)))
  }

  /** [[DeleteSchema]] plus the per-row source-attribution columns a FOLD
    * root carries (`_v` = source commit version, -1 unknown; `_ms` =
    * source commit millis). Plain roots lack the columns; every normal
    * read surface projects [[DeleteSchema]] only, so the columns cost
    * nothing outside the change feed. */
  val DeleteSchemaWithSource: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(DeleteSchema.fields.toSeq ++ Seq(
      StructField("_v", LongType, nullable = false),
      StructField("_ms", LongType, nullable = false)))
  }

  /** Index names become path components under `<topic>/_index/`. */
  private[engine] def validIndexName(s: String): String = {
    if (s.isEmpty || !s.matches("[A-Za-z0-9_.-]+") || s == "." || s == ".." ||
        s.endsWith(".tmp"))
      throw new IllegalArgumentException(
        s"Invalid index name '$s': only [A-Za-z0-9_.-]+ allowed (no .tmp suffix)")
    s
  }

  /** Manifest-log entry contents keyed by (immutable) path: seqs are never
    * reused — a rebuild advances them past the pre-delete max — so an
    * entry read once is valid for the JVM's life. LRU-bounded like
    * [[graft.streaming.FileStatsCache]]; folded-away entries simply stop
    * being looked up. Serves [[Catalog.versionHistory]] (time travel, the
    * change feed's per-trigger history read). */
  /** Commit-note marking a vectored compliance delete — what lets the
    * change-feed frontier hold back for a root that is committed but not
    * yet renamed visible ([[Catalog.deleteWhereVectored]]). */
  val DeleteVectorNote = "delete-vector"

  private val versionEntries =
    new java.util.LinkedHashMap[String, (Map[Int, Long], Option[String])](256, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (Map[Int, Long], Option[String])]): Boolean =
        size() > 65536
    }

  private[engine] def versionEntryCached(key: String)(
      load: => (Map[Int, Long], Option[String])): (Map[Int, Long], Option[String]) = {
    versionEntries.synchronized {
      val hit = versionEntries.get(key)
      if (hit != null) return hit
    }
    val v = load // outside the lock: entry reads are slow I/O
    versionEntries.synchronized { versionEntries.put(key, v): Unit }
    v
  }

  /** The shared `{ "partition": nextId }` map codec — used by the watermark
    * file, consumer cursors, and streaming offsets (one format, one place). */
  def idMapToJson(ids: Map[Int, Long]): String =
    JsonMethods.compact(JsonMethods.render(
      JObject(ids.toSeq.sortBy(_._1).map { case (k, v) => k.toString -> (JLong(v): JValue) }: _*)))

  def idMapFromJson(json: String): Map[Int, Long] = JsonMethods.parse(json) match {
    case JObject(fields) => fields.map {
      case (k, JInt(v)) => k.toInt -> v.toLong
      case (k, JLong(v)) => k.toInt -> v
      case (k, other) => throw new IllegalStateException(
        s"bad id-map entry $k: ${JsonMethods.compact(other)}")
    }.toMap
    case other => throw new IllegalStateException(
      s"bad id-map json: ${JsonMethods.compact(other)}")
  }

  /** Transaction-pending cursor pointer codec (see
    * [[Catalog.stageTxnOffsets]]): the breadcrumb only NAMES the
    * transaction — the floors live in its state. */
  private[engine] def txnPointerJson(txnTopic: String, txnId: String): String =
    JsonMethods.compact(JsonMethods.render(JObject(
      "txnTopic" -> JString(txnTopic), "txnId" -> JString(txnId))))

  private[engine] def txnPointerFromJson(json: String): (String, String) =
    JsonMethods.parse(json) match {
      case o: JObject => (o \ "txnTopic", o \ "txnId") match {
        case (JString(t), JString(id)) => (t, id)
        case _ => throw new IllegalStateException(s"bad txn pointer: $json")
      }
      case other => throw new IllegalStateException(
        s"bad txn pointer: ${JsonMethods.compact(other)}")
    }

  /** (min, max) `event_id` from a chunk file's footer statistics; a file
    * with no usable stats maps to the never-prunable full range. Shared by
    * the manifest writer and the streaming [[graft.streaming.FileStatsCache]]
    * fallback — one definition of "a file's id range". */
  /** Commit instant encoded in a deletion-vector root's name
    * (`d-<millis>-<uuid>`) — the change-data-feed's attribution key: the
    * root belongs to the first manifest commit at or after this instant
    * (deleteWhereVectored renames the root, THEN commits). 0 on an
    * unparseable name (treated as attributable to any version). */
  def vectorRootMillis(dirStr: String): Long = {
    val n = new Path(dirStr).getName
    val parts = n.split('-')
    if (parts.length >= 2 && parts(0) == "d")
      try parts(1).toLong catch { case _: NumberFormatException => 0L }
    else 0L
  }

  /** The commit version a vector root belongs to, embedded at delete time
    * (`d-<ms>-v<seq>-…`). None on roots that predate the tag or were
    * rewritten by a vector fold — those fall back to timestamp
    * attribution in [[graft.engine.TopicHandle.changes]]. */
  def vectorRootVersion(dirStr: String): Option[Long] = {
    val parts = new Path(dirStr).getName.split('-')
    if (parts.length >= 3 && parts(0) == "d" && parts(2).startsWith("v"))
      try Some(parts(2).drop(1).toLong) catch { case _: NumberFormatException => None }
    else None
  }

  /** `path`'s event_id footer range with the three outcomes kept apart:
    * `None` = STRUCTURALLY corrupt footer (bad magic, truncated — crashed
    * writer debris; gap commits may quarantine on this proof);
    * `Some((MinValue, MaxValue))` = footer reads fine but carries no
    * event_id stats (a VALID file that must never be treated as debris —
    * only never pruned/ranged-purged); `Some((lo, hi))` otherwise.
    * TRANSIENT store errors (IOException: throttling, connection reset)
    * are retried and then PROPAGATED — they must abort the caller loudly
    * and retryably, never masquerade as corruption: a gap commit that
    * mistook a 503 for a torn footer would quarantine (or silently fail
    * to adopt) committed or fresh data.
    *
    * EVERY failure gets the same bounded retry before it is classified
    * (ADVICE r16): on object stores a transiently truncated/reset read can
    * surface as `EOFException` or even parquet's bad-magic complaint (a
    * tail read that returned wrong bytes), and a zero-retry structural
    * verdict there would let a gap commit quarantine a healthy file. Only
    * a failure that PERSISTS across the retries is judged, and the
    * structural verdict (`None`) is narrowed to parquet's own corruption
    * signatures — `EOFException` from the footer reads, and the
    * `RuntimeException`s `ParquetFileReader.open` throws on bad magic /
    * too-short files / an out-of-range footer index (probed: parquet
    * 1.15 throws BARE RuntimeExceptions for these, there is no typed
    * corruption exception to catch). Anything else — including the
    * `IOException("can not read class org.apache.parquet.format...")` a
    * torn thrift footer produces, which is indistinguishable by type from
    * a mid-read connection reset — stays LOUD. */
  def fileIdRangeOpt(path: Path,
                     conf: org.apache.hadoop.conf.Configuration): Option[(Long, Long)] = {
    def openReader(): org.apache.parquet.hadoop.ParquetFileReader =
      org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf))
    // parquet-mr's structural-corruption complaints are bare
    // RuntimeExceptions; match the stable message prefixes it has used
    // across versions for the three no-footer shapes
    def corruptionSignature(e: Throwable): Boolean = {
      val m = Option(e.getMessage).getOrElse("")
      m.contains("is not a Parquet file") ||
        m.contains("Expected magic number") ||
        m.contains("footer index is not within the file")
    }
    // PER-CLASS retry budgets: a failure class first seen late must still
    // get its own bounded retries before it is classified — with one
    // shared counter, two generic IOExceptions followed by a single
    // transient EOF would judge a healthy file structurally torn with
    // zero EOF retries. Total attempts stay bounded (≤ 2 per class).
    var eofA = 0; var magicA = 0; var ioA = 0; var otherA = 0
    val reader: org.apache.parquet.hadoop.ParquetFileReader = {
      var r: org.apache.parquet.hadoop.ParquetFileReader = null
      while (r == null) {
        try r = openReader()
        catch {
          case _: java.io.EOFException if eofA < 2 =>
            eofA += 1; Thread.sleep(50L << eofA) // maybe transient: retry
          case _: java.io.EOFException =>
            return None // EOF persists: truncated footer, structural
          case e: RuntimeException if corruptionSignature(e) =>
            if (magicA >= 2) return None // bad magic persists: structural
            magicA += 1; Thread.sleep(50L << magicA)
          case _: java.io.IOException if ioA < 2 => // transient: retry
            ioA += 1; Thread.sleep(50L << ioA)
          case e: java.io.IOException => throw e // persistent store error: loud
          // any other failure is NOT silently classified as debris —
          // unknown reader errors propagate after the retries (narrowed
          // from the pre-r17 blanket NonFatal → structural)
          case scala.util.control.NonFatal(_) if otherA < 2 =>
            otherA += 1; Thread.sleep(50L << otherA)
        }
      }
      r
    }
    try {
      var lo = Long.MaxValue
      var hi = Long.MinValue
      reader.getRowGroups.forEach { block =>
        block.getColumns.forEach { c =>
          if (c.getPath.toDotString == "event_id") c.getStatistics match {
            case ls: org.apache.parquet.column.statistics.LongStatistics
              if ls.hasNonNullValue =>
              lo = math.min(lo, ls.getMin); hi = math.max(hi, ls.getMax)
            case _ =>
          }
        }
      }
      if (lo > hi) Some((Long.MinValue, Long.MaxValue)) // no stats: never prune
      else Some((lo, hi))
    } finally reader.close()
  }

  /** Footer reads run on this dedicated pool, never on a shared one: they
    * happen inside a commit's locked window, and blocking file I/O there
    * must neither starve nor queue behind unrelated work. */
  private val FooterReadThreads = 8
  private lazy val footerPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(FooterReadThreads, r => {
      val t = new Thread(r, "graft-footer-io")
      t.setDaemon(true)
      t
    })

  /** [[fileIdRangeOpt]] of each path, in order, read in parallel on the
    * footer pool. A failed read rethrows its own exception (never wrapped),
    * the first in path order (see [[onPool]]). */
  private[engine] def footerRanges(paths: Seq[Path],
      conf: org.apache.hadoop.conf.Configuration): Seq[Option[(Long, Long)]] =
    onPool(footerPool, paths.map(p => () => fileIdRangeOpt(p, conf)))

  /** Runs `tasks` on `pool` (a single task on the calling thread) and
    * returns their results in order. Returns or throws only once no task
    * is running: on a failure, the tasks not yet started are skipped, the
    * running ones finish, and the first failure in order is rethrown
    * unwrapped — so a caller that cleans up after a failure never races a
    * task still writing. */
  private[engine] def onPool[T](pool: java.util.concurrent.ExecutorService,
                                tasks: Seq[() => T]): Seq[T] =
    if (tasks.size <= 1) tasks.map(_())
    else {
      // a task that starts after a failure skips its work; none is
      // cancelled, since `get` on a cancelled future returns at once while
      // a task that had already started still runs
      val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
      val futures = tasks.map(t => pool.submit(new java.util.concurrent.Callable[Option[T]] {
        def call(): Option[T] =
          if (failed.get) None
          else try Some(t()) catch { case e: Throwable => failed.set(true); throw e }
      }))
      var failure: Throwable = null
      val results = futures.map { f =>
        try f.get() catch {
          case e: java.util.concurrent.ExecutionException =>
            if (failure == null) failure = e.getCause
            None
        }
      }
      if (failure != null) throw failure
      results.flatten
    }

  /** [[fileIdRangeOpt]] collapsed for callers that only prune/purge by
    * range (structural corruption folds into the never-prune sentinel;
    * debris judgments must use the Opt form — valid-but-stats-less files
    * are NOT debris). */
  def fileIdRange(path: Path, conf: org.apache.hadoop.conf.Configuration): (Long, Long) =
    fileIdRangeOpt(path, conf).getOrElse((Long.MinValue, Long.MaxValue))

  /** One chunk file's footer accounting for size estimation: total row
    * count plus per-column compressed bytes (column-chunk sizes summed
    * over row groups). One footer read — O(1) regardless of topic size —
    * feeding [[graft.streaming.GraftScan]]'s `estimateStatistics`: a
    * sampled bytes-per-row that respects column pruning, so a
    * metadata-only projection of a payload-heavy topic reports the small
    * size it will actually read. Chunk files are immutable once
    * committed, so a sample read once is valid for the file's lifetime. */
  final case class FileScanSample(rows: Long, columnBytes: Map[String, Long])

  def fileScanSample(path: Path,
                     conf: org.apache.hadoop.conf.Configuration): FileScanSample = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf))
    try {
      var rows = 0L
      val bytes = scala.collection.mutable.Map.empty[String, Long]
      reader.getRowGroups.forEach { block =>
        rows += block.getRowCount
        block.getColumns.forEach { c =>
          val name = c.getPath.toDotString
          bytes(name) = bytes.getOrElse(name, 0L) + c.getTotalSize
        }
      }
      FileScanSample(rows, bytes.toMap)
    } finally reader.close()
  }
}

/** What [[Catalog.vacuumTopic]] removed: crashed-produce chunk files,
  * crashed-compaction swap leftovers, stale atomic-write temp files, and
  * the total bytes reclaimed. */
final case class VacuumReport(uncommittedChunks: Int, swapLeftovers: Int,
                              tmpFiles: Int, bytesReclaimed: Long)

/** One entry of a [[ChunkFiles]] list: a chunk file's path (relative to
  * the topic's log directory in the hot manifest, absolute in a tier
  * state) plus its footer `event_id` range (closed interval). */
final case class ManifestFile(path: String, lo: Long, hi: Long)

/** One retained commit in a topic's manifest log (see
  * [[Catalog.versionHistory]]): `version` is the log seq, `kind` is
  * "snapshot" or "delta", `commitTimeMs` the entry's filesystem mtime, and
  * `watermarks` the full per-partition id frontier visible at that commit
  * (cumulatively assembled — not just the commit's own delta). */
final case class TopicVersion(version: Long, kind: String, commitTimeMs: Long,
                              watermarks: Map[Int, Long],
                              note: Option[String] = None)

/** Footer stats of one partition of one deletion-vector root: vectored-row
  * count and the (min, max) vectored event_id ([[Catalog.deleteVectorRootStats]]). */
final case class VectorRootStats(rows: Long, minId: Long, maxId: Long)

/** One attributable delete commit WITHIN a vector root. A plain root
  * (one `deleteWhereVectored`) carries exactly one source, derived from
  * its name (`d-<ms>-v<seq>-…`); a FOLD root
  * ([[Catalog.compactDeleteVectors]]) carries one per folded commit,
  * persisted through the fold in a `_sources.json` sidecar plus per-row
  * `_v`/`_ms` columns — the change-data-feed attributes each folded
  * preimage to its ORIGINAL commit, so folding never rewrites feed
  * history. `version` is -1 when unknown (legacy untagged roots):
  * attribution falls back to the first retained commit at/after `ms`.
  * `bounds` are the source's per-partition footer stats, carried through
  * the fold so preimage scans stay clamped to the source's id span. */
final case class VectorSource(version: Long, ms: Long,
                              bounds: Map[Int, VectorRootStats]) {
  def toJValue: JValue = JObject(
    "v" -> JLong(version), "ms" -> JLong(ms),
    "bounds" -> JObject(bounds.toSeq.sortBy(_._1).map { case (p, s) =>
      p.toString -> (JObject("rows" -> JLong(s.rows), "lo" -> JLong(s.minId),
        "hi" -> JLong(s.maxId)): JValue)
    }: _*))
}

object VectorSource {
  def seqToJson(srcs: Seq[VectorSource]): String =
    JsonMethods.compact(JsonMethods.render(JArray(srcs.map(_.toJValue).toList)))

  def seqFromJson(json: String): Seq[VectorSource] =
    JsonMethods.parse(json) match {
      case JArray(items) => items.map {
        case o: JObject =>
          val fields = o.obj.toMap
          def long(v: JValue): Long = v match {
            case JLong(x) => x
            case JInt(x) => x.toLong
            case other => throw new IllegalArgumentException(
              s"_sources.json: expected integer, got $other")
          }
          val bounds = fields("bounds") match {
            case JObject(bs) => bs.map { case (p, bv) =>
              val b = bv.asInstanceOf[JObject].obj.toMap
              p.toInt -> VectorRootStats(long(b("rows")), long(b("lo")), long(b("hi")))
            }.toMap
            case other => throw new IllegalArgumentException(
              s"_sources.json: expected bounds object, got $other")
          }
          VectorSource(long(fields("v")), long(fields("ms")), bounds)
        case other => throw new IllegalArgumentException(
          s"_sources.json: expected object entry, got $other")
      }
      case other => throw new IllegalArgumentException(
        s"_sources.json: expected array, got $other")
    }
}

/** What [[Catalog.archiveTopicBefore]] moved to the cold tier. */
final case class TierReport(filesMoved: Int, bytesMoved: Long)

/** Cold-tier state (see [[Catalog.archiveTopicBefore]]): the cold root and,
  * per partition, the archived chunk files — ABSOLUTE paths (the cold root
  * may be a different filesystem) with their footer id ranges, so readers
  * prune cold files exactly like manifest entries.
  *
  * `files`/`filesRef` are a [[ChunkFiles]] list: past
  * [[Catalog.manifestDriverMax]] total entries `filesRef` names its
  * relation (relative to the topic directory) and `files` is empty — at
  * 100 TB the cold tier holds MOST of the topic, so planners prune the
  * relation and collect only the slice-overlapping cold files. */
final case class TierState(coldRoot: String, files: Map[Int, Vector[ManifestFile]],
                           filesRef: Option[String] = None,
                           shared: Boolean = false) {
  def toJson: String = JsonMethods.compact(JsonMethods.render(JObject(
    ("coldRoot" -> (JString(coldRoot): JValue)) ::
    ("files" -> ChunkFiles.toJValue(files)) ::
    (filesRef.map(r => "filesRef" -> (JString(r): JValue)).toList ++
      (if (shared) List("shared" -> (JBool(true): JValue)) else Nil)))))
}

object TierState {
  def fromJson(json: String): TierState = JsonMethods.parse(json) match {
    case o: JObject =>
      val root = o \ "coldRoot" match {
        case JString(s) => s
        case other => throw new IllegalStateException(
          s"bad tier coldRoot: ${JsonMethods.compact(other)}")
      }
      val files = ChunkFiles.fromJValue(o \ "files")
      val ref = o \ "filesRef" match {
        case JString(s) => Some(s)
        case _ => None
      }
      val shared = o \ "shared" match {
        case JBool(b) => b
        case _ => false
      }
      TierState(root, files, ref, shared)
    case other => throw new IllegalStateException(
      s"tier state must be a JSON object: ${JsonMethods.compact(other)}")
  }
}

/** See [[Catalog.readManifest]]. `watermarks(p)` = next EventID the file
  * list is complete up to; `files(p)` in filename order (= id order for
  * produce output).
  *
  * `files`/`filesRef` are a [[ChunkFiles]] list. Large topics
  * ([[Catalog.manifestDriverMax]]): `filesRef` names its relation
  * (relative to `_manifest/`) holding the SNAPSHOT's file entries
  * — `files` then carries only the entries committed since that snapshot
  * (the deltas), so assembling the manifest never materializes O(files) on
  * the driver. The live set is `filesRef relation ∪ files`; consumers that
  * need it query the relation ([[Catalog.manifestFilesRel]]) and collect
  * only what their predicate keeps. */
final case class TopicManifest(
    watermarks: Map[Int, Long], files: Map[Int, Vector[ManifestFile]],
    filesRef: Option[String] = None,
    note: Option[String] = None) {

  def toJson: String = JsonMethods.compact(JsonMethods.render(JObject(
    ("watermarks" -> (JObject(watermarks.toSeq.sortBy(_._1).map {
      case (k, v) => k.toString -> (JLong(v): JValue) }: _*): JValue)) ::
    ("files" -> ChunkFiles.toJValue(files)) ::
    (filesRef.map(r => "filesRef" -> (JString(r): JValue)).toList ++
      note.map(k => "note" -> (JString(k): JValue)).toList))))
}

object TopicManifest {
  def fromJson(json: String): TopicManifest = JsonMethods.parse(json) match {
    case o: JObject =>
      val watermarks = o \ "watermarks" match {
        case JObject(fields) =>
          fields.map { case (k, v) => k.toInt -> ChunkFiles.jsonLong(v, "watermark") }.toMap
        case other => throw new IllegalStateException(
          s"bad manifest watermarks: ${JsonMethods.compact(other)}")
      }
      val files = ChunkFiles.fromJValue(o \ "files")
      val ref = o \ "filesRef" match {
        case JString(s) => Some(s)
        case _ => None
      }
      val note = o \ "note" match {
        case JString(s) => Some(s)
        case _ => None
      }
      TopicManifest(watermarks, files, ref, note)
    case other => throw new IllegalStateException(
      s"manifest must be a JSON object: ${JsonMethods.compact(other)}")
  }
}
