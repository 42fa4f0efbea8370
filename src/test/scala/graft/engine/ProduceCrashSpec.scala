package graft.engine

import java.io.IOException
import java.nio.file.{Files, Path => NioPath, StandardCopyOption}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.{DataFrame, Row}

import graft.SparkSpec

/** The local file system under the `crashfs:` scheme (not Hadoop's
  * checksummed one, so the create seam declines it and every create reaches
  * it), able to stand in for a process killed mid-produce: once armed with
  * a victim thread and a budget k, the victim's k-th mutation (create,
  * rename, delete, mkdirs, setTimes) throws, and from then on every
  * mutation through it, on any thread, throws too — no `finally` cleanup
  * lands, as in a killed JVM. Reads keep working. A call made inside
  * another one (a create making its parent dirs) is not counted apart. */
class CrashingFileSystem extends RawLocalFileSystem {
  import CrashingFileSystem.mutation
  override def getUri: java.net.URI = java.net.URI.create("crashfs:///")
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    mutation(super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable): FSDataOutputStream =
    mutation(super.create(f, overwrite, bufferSize, replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean = mutation(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean = mutation(super.delete(f, recursive))
  override def mkdirs(f: Path): Boolean = mutation(super.mkdirs(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    mutation(super.mkdirs(f, permission))
  override def setTimes(p: Path, mtime: Long, atime: Long): Unit =
    mutation(super.setTimes(p, mtime, atime))
}

object CrashingFileSystem {
  private val victim = new AtomicReference[Thread]
  @volatile private var budget = Long.MaxValue
  @volatile private var crashed = false
  private val made = new AtomicLong
  private val inCall = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  /** From now on, `t`'s `k`-th mutation kills the "process". */
  def arm(t: Thread, k: Long): Unit = {
    made.set(0L); budget = k; crashed = false; victim.set(t)
  }

  /** A working file system again; returns the mutations the victim made
    * (the one that crashed included). */
  def disarm(): Long = {
    victim.set(null); budget = Long.MaxValue; crashed = false
    made.get
  }

  def mutation[T](body: => T): T =
    if (inCall.get) body
    else {
      if (crashed) throw new IOException("simulated crash: the process is gone")
      if ((Thread.currentThread eq victim.get) && made.incrementAndGet() >= budget) {
        crashed = true
        throw new IOException(s"simulated crash at mutation ${made.get}")
      }
      inCall.set(true)
      try body finally inCall.set(false)
    }
}

/**
 * The harness of the crash-point specs: an operation killed at each of its
 * file-system mutations in turn, then recovered twice — by a fresh driver
 * over a copy of the tree, and by a second catalog that produced before
 * the crash (its once-per-catalog purge is spent, so the crash markers
 * alone must lead it to the debris). The topic has two partitions holding
 * batch "a" (6 events, from the dying driver) and batch "s" (4 events,
 * from the second catalog) when the operation starts.
 */
abstract class CrashPointSpec extends SparkSpec {
  import spark.implicits._

  protected def hc = spark.sparkContext.hadoopConfiguration

  protected def batch(tag: String, n: Int): DataFrame =
    (0 until n).map(i => (s"""{"$tag":$i}""", i % 2)).toDF("metadata", "partition")

  /** The operation under test, run by the dying driver. */
  protected abstract class CrashCase(val label: String) {
    def prepare(d: GraftDriver): Unit = ()
    def run(d: GraftDriver): Unit
    /** Recover through `d` and check what the crash left: `acked` says the
      * operation returned, `before` is the watermark before it ran. */
    def recoverAndCheck(d: GraftDriver, acked: Boolean, before: Map[Int, Long]): Unit
  }

  protected def rows(df: DataFrame): Seq[(Int, Long, String)] =
    df.select("partition", "event_id", "metadata").collect().toSeq
      .map { case Row(p: Int, id: Long, m: String) => (p, id, m) }

  protected def tagged(rs: Seq[(Int, Long, String)], tag: String): Int =
    rs.count(_._3.startsWith(s"""{"$tag":"""))

  /** Lose the topic's manifest log, as in S10 recovery. */
  protected def loseManifestLog(d: GraftDriver): Unit = {
    val dir = new Path(d.catalog.topicPath("t"), "_manifest")
    dir.getFileSystem(hc).delete(dir, true): Unit
  }

  /** A read of the topic planned from its manifest. */
  protected def planned(d: GraftDriver): Seq[(Int, Long, String)] =
    rows(spark.read.format("graft").option("warehouse", d.warehouse).option("topic", "t").load())

  /** The log's chunk files, as `partition=p/name`. */
  protected def logFiles(d: GraftDriver): Set[String] = {
    val fs = d.catalog.topicPath("t").getFileSystem(hc)
    fs.listStatus(new Path(d.catalog.logPath("t"))).toSeq
      .filter(_.isDirectory).flatMap(dir => fs.listStatus(dir.getPath).toSeq)
      .map(f => s"${f.getPath.getParent.getName}/${f.getPath.getName}").toSet
  }

  private def driver(root: NioPath): GraftDriver = {
    val d = new GraftDriver(spark, "crashfs:" + root)
    // crashfs arbitrates lock creates by read-back: no settle delay needed
    // with one process
    d.catalog.setConfOverride("spark.graft.lock.verifyDelayMs", "0")
    d
  }

  private def copyTree(from: NioPath, to: NioPath): Unit = {
    val paths = Files.walk(from)
    try paths.iterator().asScala.foreach { p =>
      val target = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else Files.copy(p, target, StandardCopyOption.COPY_ATTRIBUTES)
    } finally paths.close()
  }

  /** One crash at the victim's `k`-th mutation (never when `k` is beyond
    * its last), both recoveries checked. Returns the victim's mutations. */
  private def crashAt(c: CrashCase, k: Long): Long = {
    val root = Files.createTempDirectory("graft-crash")
    val d0 = driver(root)
    d0.createTopic("t", partitions = 2)
    d0.openTopic("t").producer().produce(batch("a", 6)): Unit
    val survivor = driver(root)
    survivor.openTopic("t").producer().produce(batch("s", 4)): Unit
    c.prepare(d0)
    val before = d0.catalog.nextIds("t")

    val acked = new AtomicReference[Option[Throwable]](None)
    val dying = new Thread(() =>
      try { c.run(d0); acked.set(None) }
      catch { case t: Throwable => acked.set(Some(t)) })
    acked.set(Some(new IllegalStateException("not run")))
    CrashingFileSystem.arm(dying, k)
    dying.start()
    dying.join(120000)
    val made = CrashingFileSystem.disarm()
    assert(!dying.isAlive, s"k=$k: the dying operation hangs")
    val victimAcked = acked.get.isEmpty
    if (made < k) assert(victimAcked, s"the operation failed without a crash: ${acked.get}")

    val copy = Files.createTempDirectory("graft-crash-copy")
    copyTree(root, copy)
    val prev = Catalog.CompactLockStaleMs
    val fresh = driver(copy)
    try {
      // the dead process's lock files and intent age out at once
      Catalog.CompactLockStaleMs = 0L
      Seq(survivor, fresh).foreach(_.catalog.setConfOverride(
        "spark.graft.produce.intentTimeoutMs", "1"))
      Thread.sleep(5)
      Seq("second catalog" -> survivor, "fresh driver" -> fresh).foreach { case (how, d) =>
        withClue(s"${c.label}, crash at mutation $k/$made, recovered by $how: ") {
          c.recoverAndCheck(d, victimAcked, before)
        }
      }
    } finally {
      Catalog.CompactLockStaleMs = prev
      Seq(survivor, fresh).foreach { d =>
        d.catalog.clearConfOverride("spark.graft.produce.intentTimeoutMs")
        d.catalog.clearConfOverride("spark.graft.lock.verifyDelayMs")
      }
    }
    made
  }

  /** `c` killed at each of its mutations in turn, each crash recovered
    * twice. */
  protected def crashEveryMutation(c: CrashCase): Unit = {
    hc.set("fs.crashfs.impl", classOf[CrashingFileSystem].getName)
    val mutations = crashAt(c, Long.MaxValue)
    info(s"${c.label}: $mutations file-system mutations")
    assert(mutations > 10, s"the operation made only $mutations mutations")
    (1L to mutations).foreach(crashAt(c, _))
  }
}

/**
 * Crash points of the produce protocol, on the concurrent path (also onto
 * a lost manifest log) and on the lock-held one. After a recovery produce: dense ids without duplicates
 * through the manifest and through a listing of the log, every
 * acknowledged event present, the crashed batch wholly visible or not at
 * all (read_committed included), and nothing left for vacuum but what it
 * reaps.
 */
class ProduceCrashSpec extends CrashPointSpec {

  private val Victim = 6 // events in the crashing batch

  private abstract class ProducePath(label: String) extends CrashCase(label) {
    /** After the recovery produce: finish what the crashed call began. */
    def finish(d: GraftDriver): Unit = ()
    def recoverAndCheck(d: GraftDriver, acked: Boolean, before: Map[Int, Long]): Unit =
      checkProduceRecovery(d, this, acked)
  }
  private object Concurrent extends ProducePath("concurrent") {
    def run(d: GraftDriver): Unit = d.openTopic("t").producer().produce(batch("v", Victim)): Unit
  }
  private object OntoLostLog extends ProducePath("concurrent, onto a lost manifest log") {
    override def prepare(d: GraftDriver): Unit = loseManifestLog(d)
    def run(d: GraftDriver): Unit = Concurrent.run(d)
  }
  private object Held extends ProducePath("lock-held (transaction)") {
    override def prepare(d: GraftDriver): Unit = d.openTopic("t").beginTransaction("x"): Unit
    def run(d: GraftDriver): Unit =
      d.openTopic("t").transaction("x").produce(batch("v", Victim)): Unit
    override def finish(d: GraftDriver): Unit = d.openTopic("t").transaction("x").commit()
  }

  private def checkProduceRecovery(d: GraftDriver, path: ProducePath,
                                   victimAcked: Boolean): Unit = {
    val topic = d.openTopic("t")
    topic.producer().produce(batch("r", 4)): Unit
    path.finish(d)

    def dense(rs: Seq[(Int, Long, String)], how: String): Unit =
      rs.groupBy(_._1).foreach { case (p, xs) =>
        val ids = xs.map(_._2).sorted
        assert(ids == ids.indices.map(_.toLong), s"$how: partition $p ids $ids")
      }

    val all = planned(d)
    dense(all, "a read planned from the manifest")
    Seq("a" -> 6, "s" -> 4, "r" -> 4).foreach { case (tag, n) =>
      assert(tagged(all, tag) == n, s"acknowledged batch '$tag'")
    }
    val v = tagged(all, "v")
    assert(v == 0 || v == Victim, s"the crashed batch is partly visible: $v of $Victim")
    if (victimAcked) assert(v == Victim, "an acknowledged batch was lost")
    val listed = rows(topic.events())
    dense(listed, "events(), a listing of the log")
    assert(listed.map(r => (r._1, r._2)).toSet == all.map(r => (r._1, r._2)).toSet,
      "the log's files and the manifest disagree")
    assert(rows(topic.events("read_committed")).sortBy(r => (r._1, r._2)) ==
      all.sortBy(r => (r._1, r._2)), "read_committed after the commit")

    d.catalog.vacuumTopic("t"): Unit
    val fs = d.catalog.topicPath("t").getFileSystem(hc)
    val registered = d.catalog.readManifest("t").get.files.values.flatten.map(_.path).toSet
    assert(logFiles(d) == registered, "debris left in the log after vacuum")
    val staging = new Path(d.catalog.topicPath("t"), "log.staging")
    // (vacuum's own store-clock probe, dot-prefixed, is inert)
    assert(!fs.exists(staging) ||
      fs.listStatus(staging).forall(_.getPath.getName.startsWith(".")),
      "staging left after vacuum")
    assert(d.catalog.listProduceIntents("t").isEmpty, "an intent outlived recovery")
    assert(rows(topic.events()).size == all.size, "vacuum dropped events")
  }

  Seq(Concurrent, OntoLostLog, Held).foreach { path =>
    test(s"a produce killed at any file-system mutation recovers exactly [${path.label}]") {
      crashEveryMutation(path)
    }
  }
}
