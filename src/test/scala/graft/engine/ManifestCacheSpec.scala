package graft.engine

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The local filesystem with per-thread counts of FileSystem API calls,
  * registered under the `countops:` scheme. A call made inside another one
  * (RawLocalFileSystem's listStatus stats every child) is not counted. */
class CountingOpsFileSystem extends RawLocalFileSystem {
  import CountingOpsFileSystem.{counted, listed}
  override def getUri: java.net.URI = java.net.URI.create("countops:///")
  override def open(f: Path, bufferSize: Int) = counted(super.open(f, bufferSize))
  override def listStatus(f: Path): Array[FileStatus] = counted(listed(super.listStatus(f)))
  override def getFileStatus(f: Path): FileStatus = counted(super.getFileStatus(f))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable) =
    counted(super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))
  // RawLocalFileSystem serves this overload on its own; `create(Path, Boolean)`
  // and Parquet's HadoopOutputFile reach it, not the one above
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable) =
    counted(super.create(f, overwrite, bufferSize, replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean = counted(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean = counted(super.delete(f, recursive))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    counted(super.mkdirs(f, permission))
}

object CountingOpsFileSystem {
  private val ops = new ConcurrentHashMap[Thread, AtomicLong]
  private val entries = new ConcurrentHashMap[Thread, AtomicLong]
  private val inCall = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  def listed(statuses: Array[FileStatus]): Array[FileStatus] = {
    entries.computeIfAbsent(Thread.currentThread, _ => new AtomicLong).addAndGet(statuses.length)
    statuses
  }

  def counted[T](body: => T): T =
    if (inCall.get) body
    else {
      ops.computeIfAbsent(Thread.currentThread, _ => new AtomicLong).incrementAndGet()
      inCall.set(true)
      try body finally inCall.set(false)
    }

  /** Operations made so far by the calling thread. */
  def mine: Long = Option(ops.get(Thread.currentThread)).map(_.get).getOrElse(0L)

  /** Directory entries the calling thread's listings have returned so far. */
  def mineListed: Long = Option(entries.get(Thread.currentThread)).map(_.get).getOrElse(0L)
}

/** The writer's manifest cache: a commit leaves the manifest it wrote in
  * the cache, keyed by the log entry it just wrote, so the next read lists
  * the log and reads no entry. */
class ManifestCacheSpec extends SparkSpec {

  private def newTopic(): (GraftDriver, String) = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.countops.impl", classOf[CountingOpsFileSystem].getName)
    val wh = "countops:" + Files.createTempDirectory("graft-manifest-cache").toString
    val d = new GraftDriver(spark, wh)
    d.createTopic("t", partitions = 2)
    (d, wh)
  }

  private def batch(k: Int): DataFrame =
    spark.range(k * 20L, k * 20L + 20).select(
      to_json(struct(col("id").as("i"))).as("metadata"),
      lit(null).cast("binary").as("data"))

  /** FS operations the calling thread makes inside `body`. */
  private def opsOf(body: => Unit): Long = {
    val before = CountingOpsFileSystem.mine
    body
    CountingOpsFileSystem.mine - before
  }

  test("consecutive produces keep a flat FS-op count on the producing thread") {
    val (d, _) = newTopic()
    val producer = d.openTopic("t").producer()
    val perProduce = (0 until 40).map(k => opsOf(producer.produce(batch(k)): Unit))
    // the first produces bootstrap the log; after them every produce is
    // the same sequence of operations (before the fix each one re-read
    // every delta since the snapshot: +2 per produce)
    val steady = perProduce.drop(3)
    assert(steady.max - steady.min <= 2, s"FS ops per produce: ${perProduce.mkString(" ")}")
    assert(d.catalog.readManifest("t").get.watermarks.values.sum == 40 * 20)
  }

  /** A new topic whose two partitions hold `files` one-event chunk files
    * each; the filling produce also spends its catalog's once-per-topic
    * purge. */
  private def topicOfChunks(files: Int): (GraftDriver, String) = {
    val (d, wh) = newTopic()
    import spark.implicits._
    d.openTopic("t").producer(chunkMaxRecords = 1).produce((0 until 2 * files)
      .map(i => (s"""{"i":$i}""", i % 2)).toDF("metadata", "partition")): Unit
    assert(d.catalog.readManifest("t").get.files.values.map(_.size).toSet == Set(files))
    (d, wh)
  }

  test("a produce makes as many FS calls into partitions of 1,000 chunk files as into partitions of 1, on both paths") {
    /** FS calls of a concurrent and of a lock-held produce into a topic
      * whose partitions hold `files` chunk files each. */
    def opsInto(files: Int): (Long, Long) = {
      val topic = topicOfChunks(files)._1.openTopic("t")
      val concurrent = opsOf(topic.producer().produce(batch(1)): Unit)
      val held = opsOf(topic.idempotentProducer("p").produce(batch(2), 0L): Unit)
      (concurrent, held)
    }
    val one = opsInto(1)
    val many = opsInto(1000)
    info(s"FS calls per produce (concurrent, lock-held): $one")
    assert(one == many, s"FS calls (concurrent, lock-held): 1 file $one, 1,000 files $many")
  }

  test("the stream sink's triggers after its first list as many entries and make as many FS calls into partitions of 1,000 chunk files as into partitions of 1") {
    /** (FS calls, listed entries) of each of three sink triggers. */
    def triggersInto(files: Int): Seq[(Long, Long)] = {
      val sink = new graft.streaming.GraftStreamSink(topicOfChunks(files)._2, "t", "sink")
      (0 until 3).map { k =>
        val listedBefore = CountingOpsFileSystem.mineListed
        val ops = opsOf(sink.addBatch(k.toLong, batch(k)))
        (ops, CountingOpsFileSystem.mineListed - listedBefore)
      }
    }
    val one = triggersInto(1)
    val many = triggersInto(1000)
    assert(one.tail == many.tail, s"(FS calls, listed entries) per trigger: 1 file $one, 1,000 files $many")
  }

  test("a lost manifest heals at the next produce commit") {
    val (d, wh) = newTopic()
    val topic = d.openTopic("t")
    val producer = topic.producer()
    val fs = new Path(wh).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifestDir = new Path(d.catalog.topicPath("t"), "_manifest")
    def onDisk: Set[String] = fs.listStatus(new Path(d.catalog.logPath("t"))).toSeq
      .flatMap(dir => fs.listStatus(dir.getPath).toSeq)
      .map(f => s"${f.getPath.getParent.getName}/${f.getPath.getName}").toSet
    def assertExact(events: Long): Unit = {
      val m = d.catalog.readManifest("t").get
      assert(m.files.values.flatten.map(_.path).toSet == onDisk, "every chunk file registered")
      assert(m.watermarks.values.sum == events)
      val ids = topic.events().groupBy(col("partition"))
        .agg(count(lit(1)), countDistinct(col("event_id")), max(col("event_id"))).collect()
      assert(ids.map(_.getLong(1)).sum == events)
      ids.foreach(r => assert(r.getLong(1) == r.getLong(2) && r.getLong(3) == r.getLong(1) - 1))
    }
    (0 until 3).foreach(k => producer.produce(batch(k)): Unit)
    // lost: the next commit lists the partitions and adopts every file
    assert(fs.delete(manifestDir, true))
    producer.produce(batch(3)): Unit
    assertExact(80)
    producer.produce(batch(4)): Unit
    assertExact(100)
  }

  test("after every commit, delta or snapshot roll, the cached manifest is what a fresh catalog reads") {
    val every = Catalog.ManifestSnapshotEvery
    Catalog.ManifestSnapshotEvery = 4
    try Seq(None, Some("0")).foreach { driverMax =>
      driverMax.foreach(spark.conf.set("spark.graft.manifest.driverMaxEntries", _))
      try {
        val (d, wh) = newTopic()
        val producer = d.openTopic("t").producer()
        (0 until 10).foreach { k =>
          producer.produce(batch(k)): Unit
          var cached: Option[TopicManifest] = None
          // one listing, no entry read: the commit's own view is served
          assert(opsOf { cached = d.catalog.readManifest("t") } == 1,
            s"commit $k (driverMax=$driverMax) re-read the manifest log")
          assert(cached == new Catalog(spark, wh).readManifest("t"),
            s"commit $k (driverMax=$driverMax)")
          assert(cached.get.watermarks.values.sum == (k + 1) * 20)
        }
      } finally spark.conf.unset("spark.graft.manifest.driverMaxEntries")
    }
    finally Catalog.ManifestSnapshotEvery = every
  }
}
