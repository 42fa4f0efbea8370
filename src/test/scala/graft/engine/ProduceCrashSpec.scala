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
 * Crash points of the produce protocol: a produce killed at each of its
 * file-system mutations in turn, on the concurrent path and on the
 * lock-held one, then recovered twice — by a fresh driver, and by a second
 * catalog that produced before the crash (its once-per-catalog purge is
 * spent, so the crash markers alone must lead it to the debris). After a
 * recovery produce: dense ids without duplicates through the manifest and
 * through a listing of the log, every acknowledged event present, the
 * crashed batch wholly visible or not at all (read_committed included),
 * and nothing left for vacuum but what it reaps.
 */
class ProduceCrashSpec extends SparkSpec {
  import spark.implicits._

  private def hc = spark.sparkContext.hadoopConfiguration

  private val Victim = 6 // events in the crashing batch

  private def batch(tag: String, n: Int): DataFrame =
    (0 until n).map(i => (s"""{"$tag":$i}""", i % 2)).toDF("metadata", "partition")

  /** The produce under test, run by the dying driver. */
  private sealed abstract class ProducePath(val label: String) {
    def prepare(d: GraftDriver): Unit = ()
    def run(d: GraftDriver): Unit
    /** After the recovery produce: finish what the crashed call began. */
    def finish(d: GraftDriver): Unit = ()
  }
  private object Concurrent extends ProducePath("concurrent") {
    def run(d: GraftDriver): Unit = d.openTopic("t").producer().produce(batch("v", Victim)): Unit
  }
  private object Held extends ProducePath("lock-held (transaction)") {
    override def prepare(d: GraftDriver): Unit = d.openTopic("t").beginTransaction("x"): Unit
    def run(d: GraftDriver): Unit =
      d.openTopic("t").transaction("x").produce(batch("v", Victim)): Unit
    override def finish(d: GraftDriver): Unit = d.openTopic("t").transaction("x").commit()
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
  private def crashAt(path: ProducePath, k: Long): Long = {
    val root = Files.createTempDirectory("graft-crash")
    val d0 = driver(root)
    d0.createTopic("t", partitions = 2)
    d0.openTopic("t").producer().produce(batch("a", 6)): Unit
    val survivor = driver(root)
    survivor.openTopic("t").producer().produce(batch("s", 4)): Unit
    path.prepare(d0)

    val acked = new AtomicReference[Option[Throwable]](None)
    val dying = new Thread(() =>
      try { path.run(d0); acked.set(None) }
      catch { case t: Throwable => acked.set(Some(t)) })
    acked.set(Some(new IllegalStateException("not run")))
    CrashingFileSystem.arm(dying, k)
    dying.start()
    dying.join(120000)
    val made = CrashingFileSystem.disarm()
    assert(!dying.isAlive, s"k=$k: the dying produce hangs")
    val victimAcked = acked.get.isEmpty
    if (made < k) assert(victimAcked, s"the produce failed without a crash: ${acked.get}")

    val copy = Files.createTempDirectory("graft-crash-copy")
    copyTree(root, copy)
    val prev = Catalog.CompactLockStaleMs
    val fresh = driver(copy)
    try {
      // the dead process's lock file and intent age out at once
      Catalog.CompactLockStaleMs = 0L
      Seq(survivor, fresh).foreach(_.catalog.setConfOverride(
        "spark.graft.produce.intentTimeoutMs", "1"))
      Thread.sleep(5)
      Seq("second catalog" -> survivor, "fresh driver" -> fresh).foreach { case (how, d) =>
        recoverAndCheck(s"${path.label}, crash at mutation $k/$made, recovered by $how",
          d, path, victimAcked)
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

  private def recoverAndCheck(clue: String, d: GraftDriver, path: ProducePath,
                              victimAcked: Boolean): Unit = withClue(clue + ": ") {
    val topic = d.openTopic("t")
    topic.producer().produce(batch("r", 4)): Unit
    path.finish(d)

    def rows(df: DataFrame): Seq[(Int, Long, String)] =
      df.select("partition", "event_id", "metadata").collect().toSeq
        .map { case Row(p: Int, id: Long, m: String) => (p, id, m) }
    def tagged(rs: Seq[(Int, Long, String)], tag: String): Int =
      rs.count(_._3.startsWith(s"""{"$tag":"""))
    def dense(rs: Seq[(Int, Long, String)], how: String): Unit =
      rs.groupBy(_._1).foreach { case (p, xs) =>
        val ids = xs.map(_._2).sorted
        assert(ids == ids.indices.map(_.toLong), s"$how: partition $p ids $ids")
      }

    val all = rows(spark.read.format("graft")
      .option("warehouse", d.warehouse).option("topic", "t").load())
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
    val onDisk = fs.listStatus(new Path(d.catalog.logPath("t"))).toSeq
      .filter(_.isDirectory).flatMap(dir => fs.listStatus(dir.getPath).toSeq)
      .map(f => s"${f.getPath.getParent.getName}/${f.getPath.getName}").toSet
    val registered = d.catalog.readManifest("t").get.files.values.flatten.map(_.path).toSet
    assert(onDisk == registered, "debris left in the log after vacuum")
    val staging = new Path(d.catalog.topicPath("t"), "log.staging")
    // (vacuum's own store-clock probe, dot-prefixed, is inert)
    assert(!fs.exists(staging) ||
      fs.listStatus(staging).forall(_.getPath.getName.startsWith(".")),
      "staging left after vacuum")
    assert(d.catalog.listProduceIntents("t").isEmpty, "an intent outlived recovery")
    assert(rows(topic.events()).size == all.size, "vacuum dropped events")
  }

  Seq(Concurrent, Held).foreach { path =>
    test(s"a produce killed at any file-system mutation recovers exactly [${path.label}]") {
      hc.set("fs.crashfs.impl", classOf[CrashingFileSystem].getName)
      val mutations = crashAt(path, Long.MaxValue)
      info(s"${path.label} produce: $mutations file-system mutations")
      assert(mutations > 10, s"the produce made only $mutations mutations")
      (1L to mutations).foreach(crashAt(path, _))
    }
  }
}
