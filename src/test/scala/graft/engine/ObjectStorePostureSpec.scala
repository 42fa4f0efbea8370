package graft.engine

import java.nio.file.Files

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** A local filesystem that swallows `setTimes` without error — the exact
  * object-store posture (Hadoop's `FileSystem.setTimes` DEFAULT is a
  * silent no-op and s3a does not override it). Registered under the
  * `noopmtime:` scheme so its [[Catalog.refreshMtimeVerified]] verdict is
  * memoized separately from the real local filesystem's. */
class NoopSetTimesFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("noopmtime:///")
  override def setTimes(p: Path, mtime: Long, atime: Long): Unit = ()
}

/** Injects `EOFException` from `open()` for the first
  * [[FlakyEofProbe.failuresPerPath]] opens of each path, then delegates —
  * the object-store shape where a transiently truncated/reset read
  * surfaces as EOF. Registered under `flakyeof:`. */
object FlakyEofProbe {
  val counts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  @volatile var failuresPerPath: Int = 2
}

class FlakyEofFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("flakyeof:///")
  override def open(p: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    val n = FlakyEofProbe.counts.merge(p.toString, Integer.valueOf(1),
      (a, b) => Integer.valueOf(a.intValue() + b.intValue()))
    if (n.intValue() <= FlakyEofProbe.failuresPerPath)
      throw new java.io.EOFException(s"injected transient EOF #$n")
    super.open(p, bufferSize)
  }
}

/** Cross-process create race coordination for
  * [[NonAtomicCreateFileSystem]]: when `checkBarrier` is set, a
  * non-overwrite create blocks after its exists-CHECK until the other
  * contender's check also passed — forcing the both-pass-the-check
  * interleaving that breaks naive create-exclusive on object stores. */
object RaceCreateProbe {
  @volatile var checkBarrier: java.util.concurrent.CyclicBarrier = null
  val putLock = new Object
}

/** Local filesystem under `racecreate:` whose `create(overwrite=false)`
  * is deliberately CHECK-THEN-PUT (the s3a-without-conditional-create
  * posture): the exists-check and the PUT are separate steps, the PUT is
  * last-writer-wins, and — like a real object-store PUT — the content
  * lands atomically at close (buffered, then swapped in under a lock). */
class NonAtomicCreateFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("racecreate:///")
  private def putAtomic(f: Path, bytes: Array[Byte]): Unit =
    RaceCreateProbe.putLock.synchronized {
      val out = super.create(f, true)
      try out.write(bytes) finally out.close()
    }
  override def create(f: Path,
      permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    if (!overwrite) {
      if (exists(f)) // the CHECK
        throw new org.apache.hadoop.fs.FileAlreadyExistsException(f.toString)
      val b = RaceCreateProbe.checkBarrier
      if (b != null) b.await(10, java.util.concurrent.TimeUnit.SECONDS): Unit
      val buf = new java.io.ByteArrayOutputStream() // the PUT (at close)
      return new org.apache.hadoop.fs.FSDataOutputStream(
        new java.io.FilterOutputStream(buf) {
          override def close(): Unit = { super.close(); putAtomic(f, buf.toByteArray) }
        }, null)
    }
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
}

object ConditionalCreateProbe {
  val conditionalBuilds = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** Local filesystem under `condcreate:` that ADVERTISES and honors the
  * Hadoop 3.4 conditional-create capability: `createFile(p).must(key,
  * true).build()` buffers the payload and lands it atomically at close
  * with create-exclusive semantics (the If-None-Match contract), while
  * its plain `create(overwrite=false)` keeps RawLocal's check-then-act —
  * so a silent fallback to the nonce path would be observable through
  * [[ConditionalCreateProbe]]. */
class ConditionalCreateFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("condcreate:///")
  override def hasPathCapability(p: Path, cap: String): Boolean =
    cap == "fs.option.create.conditional.overwrite" ||
      super.hasPathCapability(p, cap)

  private class CondBuilder(owner: ConditionalCreateFileSystem, p: Path)
    extends org.apache.hadoop.fs.FSDataOutputStreamBuilder[
      org.apache.hadoop.fs.FSDataOutputStream, CondBuilder](owner, p) {
    override def getThisBuilder: CondBuilder = this
    override def build(): org.apache.hadoop.fs.FSDataOutputStream = {
      if (!getOptions.getBoolean("fs.option.create.conditional.overwrite", false))
        return owner.create(p, true)
      ConditionalCreateProbe.conditionalBuilds.incrementAndGet(): Unit
      val buf = new java.io.ByteArrayOutputStream()
      new org.apache.hadoop.fs.FSDataOutputStream(
        new java.io.FilterOutputStream(buf) {
          override def close(): Unit = {
            super.close()
            val local = java.nio.file.Paths.get(
              owner.makeQualified(p).toUri.getPath)
            try java.nio.file.Files.write(local, buf.toByteArray,
              java.nio.file.StandardOpenOption.CREATE_NEW,
              java.nio.file.StandardOpenOption.WRITE): Unit
            catch {
              case _: java.nio.file.FileAlreadyExistsException =>
                throw new org.apache.hadoop.fs.FileAlreadyExistsException(
                  s"condcreate: $p exists at close (If-None-Match failed)")
            }
          }
        }, null)
    }
  }

  override def createFile(p: Path): org.apache.hadoop.fs.FSDataOutputStreamBuilder[
      _ <: org.apache.hadoop.fs.FSDataOutputStream, _] =
    new CondBuilder(this, p)
}

/** Records, for every `_produce.lock` file delete, whether the JVM lock
  * registry still held the entry at delete time — the probe for
  * [[Catalog]]'s release ordering invariant (registry entry removed
  * BEFORE the file delete), which is what lets an in-flight write-based
  * heartbeat beat prove "entry gone ⇒ a release ran ⇒ retract my
  * re-create" and never leave a phantom lock. */
object LockDeleteProbe {
  val registryHeldAtDelete =
    new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Boolean]()
}

/** Local filesystem under the `lockcheck:` scheme that feeds
  * [[LockDeleteProbe]] on lock-file deletes. */
class LockOrderCheckFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("lockcheck:///")
  override def delete(p: Path, recursive: Boolean): Boolean = {
    if (p.getName == "_produce.lock")
      LockDeleteProbe.registryHeldAtDelete.add(
        Catalog.heldLocks.containsKey(p.toString))
    super.delete(p, recursive)
  }
}

/** Test-only bridge for suites OUTSIDE `graft.engine` (e.g. the SQL
  * procedure spec) that need to stage protocol states the public API
  * reaches only through real slow writes: reserve an intent, locate its
  * staging dir, poke the draining gate. Production visibility of the
  * underlying members stays `private[engine]`. */
object IntentTestOps {
  def reserve(d: GraftDriver, topic: String,
              counts: Map[Int, Long]): (String, Map[Int, Long]) = {
    d.catalog.acquireProduceLock(topic)
    try d.catalog.reserveProduce(topic, counts, d.catalog.nextIds(topic))
    finally d.catalog.releaseProduceLock(topic)
  }
  def stagingDir(d: GraftDriver, topic: String, id: String): String =
    d.catalog.produceStagingDir(topic, id).toString
  /** The reports a write task would have returned for the chunks a test
    * staged by hand (footer ranges; none once the staging dir is gone). */
  def stagedChunks(d: GraftDriver, topic: String, id: String): Seq[ChunkReport] = {
    val dir = d.catalog.produceStagingDir(topic, id)
    val fs = dir.getFileSystem(d.catalog.hadoopConf)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq
      .filter(_.getPath.getName.startsWith("partition="))
      .flatMap { pd =>
        val p = pd.getPath.getName.stripPrefix("partition=").toInt
        fs.listStatus(pd.getPath).toSeq
          .filter(_.getPath.getName.endsWith(".parquet"))
          .map { f =>
            val (lo, hi) = Catalog.fileIdRange(f.getPath, d.catalog.hadoopConf)
            ChunkReport(p, f.getPath.getName, lo, hi, hi - lo + 1)
          }
      }
  }
  def acquireDraining(d: GraftDriver, topic: String): Unit =
    d.catalog.acquireProduceLockDraining(topic)
  def acquireProduce(d: GraftDriver, topic: String): Unit =
    d.catalog.acquireProduceLock(topic)
  def releaseProduce(d: GraftDriver, topic: String): Unit =
    d.catalog.releaseProduceLock(topic)
}

/**
 * The engine's lease/lock heartbeats on an OBJECT-STORE posture (VERDICT
 * r15 #1): `setTimes` silently no-ops there, so an unverified mtime
 * heartbeat silently stops beating and a long concurrent produce gets
 * janitored mid-write — a deterministic rollback-retry livelock for
 * exactly the 100-TB batches the protocol exists for. These specs wrap
 * the local filesystem in a silently-no-op-`setTimes` shim and prove the
 * verified-refresh fallback ([[Catalog.refreshMtimeVerified]] → sibling
 * lease marker / lock re-create) keeps long writes alive while dead
 * intents still expire. Plus the round's sibling hygiene: catalog-scoped
 * patience knobs (two catalogs, one JVM, different waits), the vacuum
 * staging reap's store-clock judgment, and footer-less gap debris.
 */
class ObjectStorePostureSpec extends SparkSpec {

  private def hc = spark.sparkContext.hadoopConfiguration

  private def noopWarehouse(): String = {
    hc.set("fs.noopmtime.impl", classOf[NoopSetTimesFileSystem].getName)
    "noopmtime:" + Files.createTempDirectory("graft-noopfs").toString
  }

  private def newTopic(wh: String, partitions: Int = 1): (GraftDriver, TopicHandle) = {
    val d = new GraftDriver(spark, wh)
    d.createTopic("t", partitions = partitions)
    (d, d.openTopic("t"))
  }

  private def fsOf(wh: String) =
    new Path(wh).getFileSystem(hc)

  /** Write `n` rows with explicit ids [first, first+n) on partition 0 into
    * an intent's staging dir (deterministic stand-in for phase 2). */
  private def writeStaging(d: GraftDriver, intentId: String,
                           first: Long, n: Int): Unit = {
    import spark.implicits._
    (0 until n).map(i => (0, first + i, s"""{"i":${first + i}}""", null: Array[Byte]))
      .toDF("partition", "event_id", "metadata", "data")
      .coalesce(1).write.partitionBy("partition")
      .parquet(d.catalog.produceStagingDir("t", intentId).toString)
  }

  test("setTimes-deaf store: a write outlasting the lease horizon survives the janitor and commits") {
    val wh = noopWarehouse()
    val (d, topic) = newTopic(wh)
    val cat = d.catalog
    val fs = fsOf(wh)
    cat.setConfOverride("spark.graft.produce.intentTimeoutMs", "2000")
    try {
      cat.acquireProduceLock("t")
      val (id, first) = try cat.reserveProduce("t", Map(0 -> 3L), cat.nextIds("t"))
        finally cat.releaseProduceLock("t")
      val hb = cat.startIntentHeartbeat("t", id) // beats every 500ms here
      try {
        // the "data write": 2.25x the lease horizon of wall time
        Thread.sleep(4500)
        // a janitor pass mid-write (any other producer's entry reconcile)
        cat.acquireProduceLock("t")
        try assert(cat.rollbackStaleIntentsLocked("t").isEmpty,
          "a live, heartbeating intent must survive the janitor on a " +
          "setTimes-deaf store")
        finally cat.releaseProduceLock("t")
        assert(cat.listProduceIntents("t").map(_._1) == Seq(id))
        // the refresh demonstrably went through the SIBLING lease marker
        // (setTimes is a silent no-op here, so an in-place refresh is
        // impossible — presence of the marker proves the verified
        // fallback engaged)
        assert(fs.exists(cat.intentLeasePath("t", id)),
          "the write-based lease marker must exist on a setTimes-deaf store")
        writeStaging(d, id, 0L, 3)
      } finally { hb.interrupt(); hb.join(2000) }
      cat.commitProduceIntent("t", id, first, Map(0 -> 3L),
        IntentTestOps.stagedChunks(d, "t", id))
      assert(topic.events().count() == 3)
      assert(cat.listProduceIntents("t").isEmpty)
      assert(!fs.exists(cat.intentLeasePath("t", id)),
        "the commit must retire the lease marker with the record")
    } finally cat.clearConfOverride("spark.graft.produce.intentTimeoutMs")
  }

  test("setTimes-deaf store: a genuinely dead intent still expires") {
    val wh = noopWarehouse()
    val (d, _) = newTopic(wh)
    val cat = d.catalog
    val fs = fsOf(wh)
    cat.setConfOverride("spark.graft.produce.intentTimeoutMs", "300")
    try {
      cat.acquireProduceLock("t")
      val (id, _) = try cat.reserveProduce("t", Map(0 -> 2L), cat.nextIds("t"))
        finally cat.releaseProduceLock("t")
      // one beat happened (lease marker written), then the producer died
      cat.touchProduceIntent("t", id)
      assert(fs.exists(cat.intentLeasePath("t", id)))
      Thread.sleep(900)
      cat.acquireProduceLock("t")
      try assert(cat.rollbackStaleIntentsLocked("t") == Seq(id),
        "an idle intent must expire even when its last beat was write-based")
      finally cat.releaseProduceLock("t")
      assert(cat.listProduceIntents("t").isEmpty)
      assert(!fs.exists(cat.intentLeasePath("t", id)),
        "rollback must reap the lease marker alongside the record")
      assert(!fs.exists(cat.produceStagingDir("t", id)))
    } finally cat.clearConfOverride("spark.graft.produce.intentTimeoutMs")
  }

  test("setTimes-deaf store: a beat racing the rollback self-heals — no zombie, no orphan lease") {
    val wh = noopWarehouse()
    val (d, _) = newTopic(wh)
    val cat = d.catalog
    val fs = fsOf(wh)
    cat.acquireProduceLock("t")
    val (id, _) = try cat.reserveProduce("t", Map(0 -> 2L), cat.nextIds("t"))
      finally cat.releaseProduceLock("t")
    cat.touchProduceIntent("t", id)
    cat.acquireProduceLock("t")
    try cat.rollbackProduceIntentLocked("t", id)
    finally cat.releaseProduceLock("t")
    // an in-flight beat lands AFTER the rollback's deletes: the record is
    // never resurrected (it is never rewritten), and the lease marker the
    // beat just created retracts itself on the record-gone re-check
    cat.touchProduceIntent("t", id)
    assert(cat.listProduceIntents("t").isEmpty)
    assert(!fs.exists(cat.intentLeasePath("t", id)),
      "a lease marker landing after rollback must self-delete")
  }

  test("drain request pauses new reservations; staleness is the release protocol") {
    // Writer-preference barrier: a steady writer stream otherwise starves
    // the draining gate (measured 38s of a 45s budget in the mixed soak).
    // A FRESH request must pause a plain produce's new reservation; the
    // pause must end by deletion (fast path) or by the request going
    // stale (crashed-drainer path) — never wedge.
    val wh = Files.createTempDirectory("graft-drainreq").toString
    val (d, topic) = newTopic(wh)
    val cat = d.catalog
    val fs = fsOf(wh)
    import spark.implicits._
    cat.setConfOverride("spark.graft.produce.drainRequestFreshMs", "900")
    try {
      val req = cat.drainRequestPath("t")
      fs.create(req, true).close()
      val plantedAt = fs.getFileStatus(req).getModificationTime
      // crashed-drainer path: nobody refreshes or deletes — the writer
      // pause must hold while the request is fresh and release once it
      // goes stale. Judged against the marker's own mtime (GC pauses
      // between the plant and the await only ADD, never subtract).
      cat.awaitDrainRequestClear("t")
      val heldToMs = System.currentTimeMillis() - plantedAt
      assert(heldToMs >= 800L,
        s"the barrier must hold until the request is stale (released at " +
        s"age ${heldToMs}ms of a 900ms freshness window)")
      assert(heldToMs < 30000L, "the stale request must release the writer")
      // a stale (or absent) request costs one stat, no pause
      val t1 = System.nanoTime()
      cat.awaitDrainRequestClear("t")
      assert((System.nanoTime() - t1) / 1e6 < 1000.0)
      // ...and the produce path still lands normally through the barrier
      topic.producer().produce(
        Seq(("""{"i":0}""", 0)).toDF("metadata", "partition")): Unit
      assert(topic.events().count() == 1)
      // the gate itself plants the request only when it has to wait, and
      // retires what it planted: after clearing the stale test marker, a
      // successful draining acquisition leaves nothing behind
      fs.delete(req, false)
      IntentTestOps.acquireDraining(d, "t")
      IntentTestOps.releaseProduce(d, "t")
      assert(!fs.exists(req),
        "a drain that never had to wait leaves no request marker")
      // ...and a gate that DID wait retires its own marker on admission
      val (id, _) = IntentTestOps.reserve(d, "t", Map(0 -> 1L))
      val derr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val drainer = new Thread(() =>
        try IntentTestOps.acquireDraining(d, "t")
        catch { case t: Throwable => derr.set(t) })
      drainer.start()
      // poll (no fixed sleep): the first failed gate iteration plants it
      val plantDeadline = System.currentTimeMillis() + 10000
      while (!fs.exists(req) && System.currentTimeMillis() < plantDeadline)
        Thread.sleep(50)
      assert(fs.exists(req),
        "a waiting drainer must plant the request marker")
      // roll the blocking intent back (retry the brief lock — the looping
      // drainer holds it for an instant each pass)
      var rolled = false
      val rbDeadline = System.currentTimeMillis() + 15000
      while (!rolled && System.currentTimeMillis() < rbDeadline) {
        try {
          d.catalog.acquireProduceLock("t")
          try { d.catalog.rollbackProduceIntentLocked("t", id); rolled = true }
          finally d.catalog.releaseProduceLock("t")
        } catch { case _: LockConflictException => Thread.sleep(50) }
      }
      assert(rolled)
      drainer.join(15000)
      assert(!drainer.isAlive, "the gate must be admitted once intents clear")
      assert(derr.get() == null,
        s"the drainer must have been ADMITTED, not failed: ${derr.get()}")
      assert(Catalog.heldLocks.containsKey(
        new Path(cat.topicPath("t"), "_produce.lock").toString),
        "the admitted drainer must actually hold the produce lock")
      d.catalog.releaseProduceLock("t")
      assert(!fs.exists(req), "the admitted gate must retire its marker")
    } finally cat.clearConfOverride("spark.graft.produce.drainRequestFreshMs")
  }

  test("orphan lease: a create landing after BOTH rollback deletes stays inert and is vacuum-reaped") {
    // VERDICT r16 pins the three-site orphan-lease proof so a future
    // protocol edit cannot silently widen the window: a write-based beat
    // whose lease CREATE lands after the rollback's two deletes and whose
    // owner dies before the record-gone re-check leaves an orphan
    // `.<id>.json.lease`. That orphan must (1) never surface as an intent
    // (the listing only lets a lease extend a LISTED record), (2) never
    // disturb later reservations, and (3) be age-reaped by vacuum 2c —
    // while a YOUNG record-less lease survives (it could belong to a
    // fresh reserve racing the vacuum's two listings).
    val wh = noopWarehouse()
    val (d, topic) = newTopic(wh)
    val cat = d.catalog
    val fs = fsOf(wh)
    cat.acquireProduceLock("t")
    val (id, _) = try cat.reserveProduce("t", Map(0 -> 2L), cat.nextIds("t"))
      finally cat.releaseProduceLock("t")
    cat.acquireProduceLock("t")
    try cat.rollbackProduceIntentLocked("t", id)
    finally cat.releaseProduceLock("t")
    // the dead beat's create, AFTER both deletes, with no re-check ever
    val lease = cat.intentLeasePath("t", id)
    fs.create(lease, true).close()
    assert(cat.listProduceIntents("t").isEmpty,
      "a lease without a record must never surface as an intent")
    // a later reservation on the same topic is unaffected
    cat.acquireProduceLock("t")
    val (id2, _) = try cat.reserveProduce("t", Map(0 -> 1L), cat.nextIds("t"))
      finally cat.releaseProduceLock("t")
    assert(cat.listProduceIntents("t").map(_._1) == Seq(id2))
    cat.acquireProduceLock("t")
    try cat.rollbackProduceIntentLocked("t", id2)
    finally cat.releaseProduceLock("t")
    // young orphan survives a vacuum pass...
    topic.vacuum(): Unit
    assert(fs.exists(lease),
      "a young record-less lease could be a racing fresh intent's — kept")
    // ...an aged one is definitively dead and reaped
    assert(new java.io.File(lease.toUri.getPath).setLastModified(
      System.currentTimeMillis() - 2 * Catalog.CompactLockStaleMs))
    topic.vacuum(): Unit
    assert(!fs.exists(lease),
      "an orphan lease past the staleness horizon must be vacuum-reaped")
  }

  test("setTimes-deaf store: the produce-lock heartbeat keeps a long hold visibly live") {
    val wh = noopWarehouse()
    val (d, _) = newTopic(wh)
    val cat = d.catalog
    val fs = fsOf(wh)
    val saved = Catalog.CompactLockStaleMs
    Catalog.CompactLockStaleMs = 3000L // heartbeat period = 1000ms
    try {
      cat.acquireProduceLock("t")
      try {
        Thread.sleep(3500) // well past the compressed staleness horizon
        val lock = new Path(cat.topicPath("t"), "_produce.lock")
        val age = System.currentTimeMillis() -
          fs.getFileStatus(lock).getModificationTime
        assert(age < Catalog.CompactLockStaleMs,
          s"the lock heartbeat must keep the file fresh on a setTimes-deaf " +
          s"store (age ${age}ms >= horizon ${Catalog.CompactLockStaleMs}ms " +
          "would read as a crashed producer and get reclaimed mid-run)")
      } finally cat.releaseProduceLock("t")
    } finally Catalog.CompactLockStaleMs = saved
  }

  test("check-then-put store: at most one of two racing cross-process lock contenders proceeds") {
    // VERDICT r16 top_next: fs.create(p, overwrite=false) is check-then-
    // put on object stores, so two producers in DIFFERENT processes could
    // both win the create and corrupt the _ids.json watermark. The nonce
    // read-back must arbitrate: after both PUTs land (last-writer-wins),
    // exactly one contender reads its own nonce back. The same-JVM
    // registry is bypassed by driving the filesystem half directly — the
    // registry wouldn't exist across two real processes.
    hc.set("fs.racecreate.impl", classOf[NonAtomicCreateFileSystem].getName)
    val dir = Files.createTempDirectory("graft-racecreate").toString
    val lock = new Path("racecreate:" + dir + "/_produce.lock")
    val fs = lock.getFileSystem(hc)
    RaceCreateProbe.checkBarrier = new java.util.concurrent.CyclicBarrier(2)
    try {
      val results = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Boolean]()
      val ts = (1 to 2).map(i => new Thread(() =>
        results.add(Catalog.createLockFileArbitrated(fs, lock, 400L)),
        s"race-contender-$i"))
      ts.foreach(_.start()); ts.foreach(_.join(15000))
      assert(results.size == 2, "both contenders must have decided")
      import scala.jdk.CollectionConverters._
      val winners = results.asScala.count(_.booleanValue())
      assert(winners <= 1,
        "two cross-process contenders must never both win the lock")
      assert(winners == 1,
        "the last-writer-wins PUT schedule has a deterministic winner")
      assert(fs.exists(lock), "the winner's lock file survives")
    } finally RaceCreateProbe.checkBarrier = null
  }

  test("check-then-put store: non-racing acquire and reject still work; file: stays O_EXCL-exact") {
    hc.set("fs.racecreate.impl", classOf[NonAtomicCreateFileSystem].getName)
    val dir = Files.createTempDirectory("graft-racecreate2").toString
    val lock = new Path("racecreate:" + dir + "/_produce.lock")
    val fs = lock.getFileSystem(hc)
    assert(Catalog.createLockFileArbitrated(fs, lock, 10L),
      "an uncontended create on a check-then-put store must win")
    assert(!Catalog.createLockFileArbitrated(fs, lock, 10L),
      "a later contender must fail at the exists-check")
    // file: scheme — kernel-arbitrated O_EXCL, no settle delay paid
    val ldir = Files.createTempDirectory("graft-localexcl").toString
    val llock = new Path("file:" + ldir + "/_produce.lock")
    val lfs = llock.getFileSystem(hc)
    val t0 = System.nanoTime()
    assert(Catalog.createLockFileArbitrated(lfs, llock, 60000L))
    assert((System.nanoTime() - t0) / 1e6 < 5000.0,
      "file: must not pay the settle delay (O_EXCL is exact)")
    assert(!Catalog.createLockFileArbitrated(lfs, llock, 60000L))
  }

  test("conditional-create store: the store arbitrates exactly — no settle, no read-back") {
    // Hadoop 3.4+ stores advertising fs.option.create.conditional.overwrite
    // (s3a with If-None-Match) upgrade lock creates to EXACT arbitration:
    // the PUT itself fails at close when the file exists. The engine must
    // take that path (probe observed), win uncontended, lose cleanly when
    // the file exists, and pay no settle delay.
    hc.set("fs.condcreate.impl", classOf[ConditionalCreateFileSystem].getName)
    val dir = Files.createTempDirectory("graft-condcreate").toString
    val lock = new Path("condcreate:" + dir + "/_produce.lock")
    val fs = lock.getFileSystem(hc)
    ConditionalCreateProbe.conditionalBuilds.set(0)
    val t0 = System.nanoTime()
    assert(Catalog.createLockFileArbitrated(fs, lock, 60000L),
      "uncontended conditional create must win")
    assert((System.nanoTime() - t0) / 1e6 < 5000.0,
      "a conditional-create store must not pay the settle delay")
    assert(ConditionalCreateProbe.conditionalBuilds.get() == 1,
      "the create must have gone through the conditional builder")
    assert(!Catalog.createLockFileArbitrated(fs, lock, 60000L),
      "a second contender must lose at the If-None-Match close")
    assert(ConditionalCreateProbe.conditionalBuilds.get() == 2)
    val body = {
      val in = fs.open(lock)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    assert(body.contains("\"owner\""), "the winner's payload survives intact")
  }

  test("check-then-put store: a transient read-back failure does not concede an owned lock") {
    // Review finding r17: after OUR payload lands, a transient read error
    // on the verify must not return "lost" — that would leave an
    // owner-less, un-heartbeated lock wedging the path for the staleness
    // horizon. The read-back retries through transient failures and only
    // a persistent failure is (loudly) fatal.
    hc.set("fs.flakyeof.impl", classOf[FlakyEofFileSystem].getName)
    val dir = Files.createTempDirectory("graft-flakylock").toString
    val lock = new Path("flakyeof:" + dir + "/_produce.lock")
    val fs = lock.getFileSystem(hc)
    FlakyEofProbe.counts.clear()
    FlakyEofProbe.failuresPerPath = 2 // first two read-backs fail, third works
    assert(Catalog.createLockFileArbitrated(fs, lock, 10L),
      "a transient read-back failure must not read as 'lost the race'")
    assert(fs.exists(lock))
    // persistent read failure: loud store error, never a silent false
    val lock2 = new Path("flakyeof:" + dir + "/_compact.lock")
    FlakyEofProbe.counts.clear()
    FlakyEofProbe.failuresPerPath = Int.MaxValue
    intercept[java.io.IOException](
      Catalog.createLockFileArbitrated(fs, lock2, 10L))
    FlakyEofProbe.failuresPerPath = 2
  }

  test("reclaim: losing the claim race leaves the foreign claim intact") {
    // Review finding r17 (severe): pre-fix, a contender that lost the
    // claim's nonce read-back still deleted the claim in its finally —
    // removing the WINNER's claim and re-opening the double-reclaim
    // corruption window. A fresh foreign claim must survive our failed
    // reclaim attempt untouched.
    val wh = Files.createTempDirectory("graft-claimrace").toString
    val (d, _) = newTopic(wh)
    val cat = d.catalog
    val fs = fsOf(wh)
    val lock = new Path(cat.topicPath("t"), "_produce.lock")
    val claim = new Path(cat.topicPath("t"), "_produce.lock.reclaim")
    // a stale lock (aged past the horizon) plus a LIVE foreign claim
    val out = fs.create(lock, true)
    try out.write("{}".getBytes("UTF-8")) finally out.close()
    assert(new java.io.File(lock.toUri.getPath).setLastModified(
      System.currentTimeMillis() - 2 * Catalog.CompactLockStaleMs))
    val c = fs.create(claim, true)
    try c.write("foreign-nonce".getBytes("UTF-8")) finally c.close()
    intercept[LockConflictException](
      cat.reclaimStaleLock(lock, _ => "held"))
    assert(fs.exists(claim),
      "a losing contender must never delete another contender's claim")
    assert(fs.exists(lock), "the stale lock is the claim winner's to delete")
    fs.delete(claim, false); fs.delete(lock, false)
  }

  test("releaseLock removes the registry entry before the lock file delete") {
    // The ordering the phantom-lock self-heal rests on: a write-based
    // heartbeat beat that re-created the file re-checks the registry —
    // "entry gone" must PROVE the release's delete is at/behind it. If a
    // release ever deleted the file while its entry was still registered,
    // that proof (and the retraction) would be unsound.
    hc.set("fs.lockcheck.impl", classOf[LockOrderCheckFileSystem].getName)
    val wh = "lockcheck:" + Files.createTempDirectory("graft-lockorder").toString
    val (d, _) = newTopic(wh)
    LockDeleteProbe.registryHeldAtDelete.clear()
    (0 until 3).foreach { _ =>
      d.catalog.acquireProduceLock("t")
      d.catalog.releaseProduceLock("t")
    }
    import scala.jdk.CollectionConverters._
    val seen = LockDeleteProbe.registryHeldAtDelete.asScala.toSeq
    assert(seen.nonEmpty, "the probe must have observed the lock deletes")
    assert(seen.forall(_ == java.lang.Boolean.FALSE),
      "every release must clear the registry entry BEFORE deleting the file")
  }

  test("patience knobs are catalog-scoped: two catalogs in one JVM hold different waits") {
    val whA = Files.createTempDirectory("graft-knobs-a").toString
    val whB = Files.createTempDirectory("graft-knobs-b").toString
    val (dA, _) = newTopic(whA)
    val (dB, _) = newTopic(whB)
    dA.catalog.setConfOverride("spark.graft.produce.commitWaitMs", "200")
    dB.catalog.setConfOverride("spark.graft.produce.commitWaitMs", "6000")
    dB.catalog.setConfOverride("spark.graft.produce.intentTimeoutMs", "400")
    try {
      assert(dA.catalog.produceCommitWaitMs == 200L)
      assert(dB.catalog.produceCommitWaitMs == 6000L,
        "the second catalog must not see the first catalog's override")
      // behavioral: both topics have one live intent. A's impatient gate
      // gives up fast; B's patient gate outlives its (compressed) lease
      // horizon, rolls the stale intent back, and proceeds.
      Seq(dA, dB).foreach { d =>
        d.catalog.acquireProduceLock("t")
        try d.catalog.reserveProduce("t", Map(0 -> 2L), d.catalog.nextIds("t")): Unit
        finally d.catalog.releaseProduceLock("t")
      }
      intercept[LockConflictException](
        dA.catalog.acquireProduceLockDraining("t"))
      dB.catalog.acquireProduceLockDraining("t") // succeeds within 6000ms
      dB.catalog.releaseProduceLock("t")
    } finally {
      dA.catalog.clearConfOverride("spark.graft.produce.commitWaitMs")
      dB.catalog.clearConfOverride("spark.graft.produce.commitWaitMs")
      dB.catalog.clearConfOverride("spark.graft.produce.intentTimeoutMs")
    }
  }

  test("MERGE patience is catalog-scoped too: private Catalog instances see the caller's override") {
    // VERDICT r16 #2: the MERGE paths (MergeCommit.commit, the SQL
    // row-level planner, DSv2 writers) construct their OWN Catalog over
    // the caller's warehouse — under per-object override scoping they
    // never saw setConfOverride, making mergeCommitWaitMs the one knob
    // exempt from catalog scoping. Overrides are now keyed by WAREHOUSE:
    // a fresh instance over the same warehouse (exactly what the MERGE
    // paths build) must read the user catalog's override, and the two
    // tenants must stay isolated from each other.
    val whA = Files.createTempDirectory("graft-mknobs-a").toString
    val whB = Files.createTempDirectory("graft-mknobs-b").toString
    val (dA, _) = newTopic(whA)
    val (dB, _) = newTopic(whB)
    dA.catalog.setConfOverride("spark.graft.merge.commitWaitMs", "250")
    dB.catalog.setConfOverride("spark.graft.merge.commitWaitMs", "7000")
    try {
      assert(new Catalog(spark, whA).mergeCommitWaitMs == 250L,
        "a private Catalog over warehouse A must see A's MERGE patience")
      assert(new Catalog(spark, whB).mergeCommitWaitMs == 7000L,
        "a private Catalog over warehouse B must see B's, not A's")
    } finally {
      dA.catalog.clearConfOverride("spark.graft.merge.commitWaitMs")
      dB.catalog.clearConfOverride("spark.graft.merge.commitWaitMs")
    }
    // cleared: later instances revert to the JVM default
    assert(new Catalog(spark, whA).mergeCommitWaitMs == Catalog.MergeCommitWaitMs)
  }

  test("forceWriteRefresh pins the write-based heartbeat even where setTimes works") {
    // VERDICT r16: refreshMtimeVerified's per-store verdict is permanent
    // for the JVM — a store whose setTimes is flaky-rather-than-deaf
    // (works at probe time, degrades later) would strand the heartbeat on
    // the in-place path. The catalog-scoped escape hatch must bypass the
    // memo entirely: on the REAL local filesystem (where setTimes
    // demonstrably works, so the memoized path would never write a
    // sibling) the beat lands on the write-based lease marker.
    val wh = Files.createTempDirectory("graft-forcewrite").toString
    val (d, _) = newTopic(wh)
    val cat = d.catalog
    val fs = fsOf(wh)
    cat.setConfOverride("spark.graft.heartbeat.forceWriteRefresh", "true")
    try {
      cat.acquireProduceLock("t")
      val (id, _) = try cat.reserveProduce("t", Map(0 -> 2L), cat.nextIds("t"))
        finally cat.releaseProduceLock("t")
      assert(cat.touchProduceIntent("t", id))
      assert(fs.exists(cat.intentLeasePath("t", id)),
        "the forced beat must refresh through the sibling lease marker")
      cat.acquireProduceLock("t")
      try cat.rollbackProduceIntentLocked("t", id)
      finally cat.releaseProduceLock("t")
    } finally cat.clearConfOverride("spark.graft.heartbeat.forceWriteRefresh")
  }

  test("vacuum staging reap is skew-immune: local clock ahead never reaps live staging") {
    val wh = Files.createTempDirectory("graft-vacskew").toString
    val (d, topic) = newTopic(wh)
    val cat = d.catalog
    val fs = fsOf(wh)
    // an orphan staging dir (no matching intent), freshly store-stamped —
    // the shape of a rollback interrupted between its two deletes with a
    // zombie task still writing
    val orphan = cat.produceStagingDir("t", "deadbeef0000")
    fs.mkdirs(orphan)
    // the local JVM clock runs 2x the staleness horizon AHEAD of the store
    spark.conf.set("spark.graft.txn.testLocalSkewMs",
      (2 * Catalog.CompactLockStaleMs).toString)
    try {
      topic.vacuum(): Unit
      assert(fs.exists(orphan),
        "a freshly store-stamped staging dir must survive a vacuum whose " +
        "local clock runs ahead (store-clock judgment, not local-vs-store)")
      // a GENUINELY old orphan is still reaped under the same skew
      assert(new java.io.File(orphan.toUri.getPath).setLastModified(
        System.currentTimeMillis() - 2 * Catalog.CompactLockStaleMs))
      topic.vacuum(): Unit
      assert(!fs.exists(orphan), "an aged orphan staging dir must be reaped")
    } finally spark.conf.unset("spark.graft.txn.testLocalSkewMs")
  }

  test("fileIdRangeOpt keeps torn, stats-less, and ranged footers apart") {
    // The quarantine proof rests on this three-way contract: None must
    // mean STRUCTURAL corruption only — a readable foreign parquet with
    // no event_id stats is valid data (Some(never-prune sentinel)), and
    // treating it as debris would quarantine committed rows.
    val dir = Files.createTempDirectory("graft-footer").toString
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    Seq((0, 7L, "{}", null: Array[Byte]))
      .toDF("partition", "event_id", "metadata", "data")
      .coalesce(1).write.parquet(s"$dir/real")
    val fs = new Path(dir).getFileSystem(conf)
    val real = fs.listStatus(new Path(s"$dir/real"))
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    assert(Catalog.fileIdRangeOpt(real, conf) == Some((7L, 7L)))
    Seq(("alien", 1)).toDF("a", "b").coalesce(1).write.parquet(s"$dir/alien")
    val alien = fs.listStatus(new Path(s"$dir/alien"))
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    assert(Catalog.fileIdRangeOpt(alien, conf) ==
      Some((Long.MinValue, Long.MaxValue)),
      "a readable parquet without event_id stats is valid, never debris")
    val torn = new Path(dir, "torn.parquet")
    val out = fs.create(torn, true)
    try out.write("not a parquet file".getBytes("UTF-8")) finally out.close()
    assert(Catalog.fileIdRangeOpt(torn, conf).isEmpty,
      "structural corruption (bad magic) is the only None")
    // the collapsed form folds both undecidable cases to the sentinel
    assert(Catalog.fileIdRange(torn, conf) == (Long.MinValue, Long.MaxValue))
  }

  test("fileIdRangeOpt retries transient EOF before judging it structural") {
    // ADVICE r16: on object stores a transiently truncated/reset read can
    // surface as EOF; a zero-retry structural verdict would let a gap
    // commit quarantine a healthy file. Transient EOF must heal through
    // the bounded retry; only PERSISTENT EOF is a torn footer.
    hc.set("fs.flakyeof.impl", classOf[FlakyEofFileSystem].getName)
    val dir = Files.createTempDirectory("graft-flakyeof").toString
    import spark.implicits._
    Seq((0, 11L, "{}", null: Array[Byte]))
      .toDF("partition", "event_id", "metadata", "data")
      .coalesce(1).write.parquet(s"$dir/real")
    val fs = new Path(dir).getFileSystem(hc)
    val realLocal = fs.listStatus(new Path(s"$dir/real"))
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    val viaFlaky = new Path("flakyeof:" + realLocal.toUri.getPath)
    FlakyEofProbe.counts.clear()
    FlakyEofProbe.failuresPerPath = 2 // first two opens EOF, third succeeds
    assert(Catalog.fileIdRangeOpt(viaFlaky, hc) == Some((11L, 11L)),
      "a transient EOF (heals within the bounded retry) must not be " +
      "misread as a torn footer")
    FlakyEofProbe.counts.clear()
    FlakyEofProbe.failuresPerPath = Int.MaxValue // EOF persists
    assert(Catalog.fileIdRangeOpt(viaFlaky, hc).isEmpty,
      "EOF persisting across every retry is structural (torn footer)")
    FlakyEofProbe.failuresPerPath = 2
  }

  test("torn debris OFF-gap is quarantined at manifest update, never adopted") {
    // ADVICE r16 (medium): pre-r17, an unknown structurally-corrupt chunk
    // on a NON-gap commit was adopted under the never-prune sentinel —
    // crashed-writer debris enshrined as a permanent manifest entry,
    // shielded from every purge while still breaking topic scans. It must
    // be quarantined like its gap-path sibling.
    val wh = Files.createTempDirectory("graft-offgapdebris").toString
    val (d, topic) = newTopic(wh)
    val cat = d.catalog
    val fs = fsOf(wh)
    import spark.implicits._
    topic.producer().produce(
      (0 until 4).map(i => (s"""{"i":$i}""", 0)).toDF("metadata", "partition")): Unit
    assert(cat.readManifest("t").isDefined)
    val garbage = new Path(cat.logPath("t") + "/partition=0/part-torn.parquet")
    val out = fs.create(garbage, true)
    try out.write("not a parquet file".getBytes("UTF-8")) finally out.close()
    // a plain sequential produce — no gap decided anywhere — from a
    // restarted driver, the one crash state that leaves debris without a
    // marker beside it: its first produce on the topic purges
    new GraftDriver(spark, wh).openTopic("t").producer().produce(
      (4 until 6).map(i => (s"""{"i":$i}""", 0)).toDF("metadata", "partition")): Unit
    assert(!fs.exists(garbage),
      "torn debris must be quarantined at the off-gap manifest update")
    assert(fs.exists(new Path(garbage.getParent, s".${garbage.getName}.quarantined")),
      "quarantine preserves the bytes (dot-prefixed rename)")
    val listed = cat.readManifest("t").get.files.valuesIterator.flatten.map(_.path).toSet
    assert(!listed.exists(_.contains("part-torn")),
      "the manifest must never list the debris")
    assert(topic.events().count() === 6, "real rows unaffected, debris invisible")
  }

  test("footer-less debris inside a decided-dead gap is quarantined, never adopted") {
    val wh = Files.createTempDirectory("graft-gapdebris").toString
    val (d, topic) = newTopic(wh)
    val cat = d.catalog
    val fs = fsOf(wh)
    import spark.implicits._
    // committed base: manifest exists, watermark = 4
    topic.producer().produce(
      (0 until 4).map(i => (s"""{"i":$i}""", 0)).toDF("metadata", "partition")): Unit
    // A reserves [4,7) and dies; B reserves [7,9)
    def reserve(n: Long) = {
      cat.acquireProduceLock("t")
      try cat.reserveProduce("t", Map(0 -> n), cat.nextIds("t")) finally cat.releaseProduceLock("t")
    }
    val (idA, _) = reserve(3)
    val (idB, firstB) = reserve(2)
    writeStaging(d, idB, 7L, 2)
    // plant a FOOTER-LESS (corrupt/torn) chunk in the gap partition: the
    // debris shape a crashed commit can leave that no id-range judgment
    // can place — before this round it was neither purged (footer
    // unreadable) nor excluded from adoption
    val garbage = new Path(cat.logPath("t") + "/partition=0/part-torn.parquet")
    val out = fs.create(garbage, true)
    try out.write("not a parquet file".getBytes("UTF-8")) finally out.close()
    // A's lease expires; B commits over the decided-dead gap [4,7)
    cat.setConfOverride("spark.graft.produce.intentTimeoutMs", "1")
    try {
      Thread.sleep(50)
      cat.commitProduceIntent("t", idB, firstB, Map(0 -> 2L),
        IntentTestOps.stagedChunks(d, "t", idB))
    } finally cat.clearConfOverride("spark.graft.produce.intentTimeoutMs")
    assert(!fs.exists(garbage),
      "footer-less debris in a decided-dead gap must be quarantined at gap-advance")
    assert(fs.exists(new Path(garbage.getParent, s".${garbage.getName}.quarantined")),
      "quarantine preserves the bytes (dot-prefixed: invisible to reads/heals)")
    assert(cat.listProduceIntents("t").isEmpty,
      s"A ($idA) must have been rolled back at B's blocked commit")
    val ev = topic.events()
    assert(ev.count() === 6, "base 4 + B's 2, debris invisible")
    assert(ev.agg(max(col("event_id"))).collect()(0).getLong(0) === 8L)
  }
}
