package graft.engine

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Hadoop's local file system, recording the path of every create made
  * through it and the name of every other operation it serves. */
class CreateRecordingLocalFileSystem extends LocalFileSystem {
  import CreateRecordingLocalFileSystem._
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable) = {
    creates.add(f.toUri.getPath)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { others.add("rename"); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    others.add("delete"); super.delete(f, recursive)
  }
  override def listStatus(f: Path) = { others.add("listStatus"); super.listStatus(f) }
  override def open(f: Path, bufferSize: Int) = { others.add("open"); super.open(f, bufferSize) }
}

object CreateRecordingLocalFileSystem {
  val creates = new ConcurrentLinkedQueue[String]
  val others = new ConcurrentLinkedQueue[String]
}

/** A local file system that is not Hadoop's checksummed one (registered
  * under the `createcount:` scheme), recording the path of every create. */
class CreateCountingFileSystem extends RawLocalFileSystem {
  import CreateCountingFileSystem.creates
  override def getUri: java.net.URI = java.net.URI.create("createcount:///")
  // RawLocalFileSystem serves these two overloads separately
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable) = {
    creates.add(f.toUri.getPath)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable) = {
    creates.add(f.toUri.getPath)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object CreateCountingFileSystem {
  val creates = new ConcurrentLinkedQueue[String]
}

/**
 * Which file systems the create seam ([[FileCreate]]) routes around, and
 * that a produce into a local warehouse starts no `chmod` process.
 */
class CreateSeamSpec extends SparkSpec {

  private def hc = spark.sparkContext.hadoopConfiguration

  private def batch(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map(i => (s"""{"i":$i}""", s"payload-$i".getBytes("UTF-8"), i % 4))
      .toDF("metadata", "data", "partition")
  }

  /** Creates recorded in `log` under `root` while `body` runs. */
  private def createsUnder(log: ConcurrentLinkedQueue[String], root: String)(body: => Unit): Seq[String] = {
    log.clear()
    body
    log.asScala.toSeq.filter(_.startsWith(root))
  }

  ProduceInput.Both.foreach { in =>
    test(s"a local warehouse's creates bypass the configured LocalFileSystem; everything else reaches it [${in.label}]") {
      // the configured local file system for this test only, uncached so
      // the catalog built here resolves it
      hc.set("fs.file.impl", classOf[CreateRecordingLocalFileSystem].getName)
      hc.setBoolean("fs.file.impl.disable.cache", true)
      try {
        val wh = Files.createTempDirectory("graft-create-seam").toString
        val d = new GraftDriver(spark, wh)
        val fs = new Path(wh).getFileSystem(hc)
        assert(fs.isInstanceOf[CreateRecordingLocalFileSystem])
        val created = createsUnder(CreateRecordingLocalFileSystem.creates, wh) {
          d.createTopic("t", partitions = 4)
          CreateRecordingLocalFileSystem.others.clear()
          in.run(spark)(d.openTopic("t").producer().produce(in(batch(400)))): Unit
        }
        assert(created.isEmpty, created)
        val others = CreateRecordingLocalFileSystem.others.asScala.toSet
        assert(Set("rename", "delete", "listStatus", "open").subsetOf(others), others)
        // what the seam wrote reads back through the configured file system
        assert(d.catalog.readManifest("t").get.watermarks.values.sum == 400)
        assert(d.openTopic("t").events().count() == 400)
      } finally {
        hc.unset("fs.file.impl")
        hc.unset("fs.file.impl.disable.cache")
      }
    }
  }

  ProduceInput.Both.foreach { in =>
    test(s"a file system that is not Hadoop's LocalFileSystem receives every create [${in.label}]") {
      hc.set("fs.createcount.impl", classOf[CreateCountingFileSystem].getName)
      val root = Files.createTempDirectory("graft-create-count").toString
      val d = new GraftDriver(spark, "createcount:" + root)
      d.createTopic("t", partitions = 4)
      val producer = d.openTopic("t").producer(chunkMaxRecords = 60)
      val created = createsUnder(CreateCountingFileSystem.creates, root) {
        in.run(spark)(producer.produce(in(batch(400)))): Unit
      }
      val m = d.catalog.readManifest("t").get
      val chunks = m.files.values.flatten.map(f => new Path(f.path).getName).toSet
      assert(chunks.size == 4 * 2, chunks) // 100 events a partition, 60 a file
      // the produce lock (taken at reserve and again at commit), the
      // intent, each chunk file in staging, then the manifest entry (the
      // intent and the entry written to a temp, then renamed)
      assert(chunks == created.map(new Path(_).getName).filter(_.endsWith(".parquet")).toSet)
      assert(created.count(_.endsWith("/_produce.lock")) == 2, created)
      assert(created.size == chunks.size + 4, created)
    }
  }

  test("the seam serves only a LocalFileSystem over Hadoop's own raw file system") {
    val p = new Path("/tmp/graft-create-seam-probe")
    def routed(fs: FileSystem): Boolean = FileCreate.resolve(fs, p)._1 ne fs
    assert(routed(FileSystem.getLocal(hc)))
    val mocks: Seq[RawLocalFileSystem] = Seq(new CountingOpsFileSystem, new NoopSetTimesFileSystem,
      new FlakyEofFileSystem, new NonAtomicCreateFileSystem, new ConditionalCreateFileSystem,
      new LockOrderCheckFileSystem, new RawLocalFileSystem)
    mocks.foreach { m =>
      assert(!routed(m), m.getClass.getName)
      // a checksummed file system over a mock keeps the mock's create
      if (m.getClass != classOf[RawLocalFileSystem]) assert(!routed(new LocalFileSystem(m)), m.getClass.getName)
    }
  }

  /** The commands of the processes the JVM starts while `body` runs
    * (JFR's `jdk.ProcessStart`: one event per `ProcessBuilder.start`, so
    * the count does not depend on how long a child lives). */
  private def processesStartedBy(body: => Unit): Seq[String] = {
    val r = new jdk.jfr.Recording()
    r.enable("jdk.ProcessStart")
    r.start()
    try body finally r.stop()
    val f = Files.createTempFile("graft-process-starts", ".jfr")
    try {
      r.dump(f)
      jdk.jfr.consumer.RecordingFile.readAllEvents(f).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
    } finally { r.close(); Files.deleteIfExists(f) }
  }

  test("a produce into a local warehouse starts no chmod process") {
    assume(!NativeIO.isAvailable, "with libhadoop loaded Hadoop's own chmod is native")
    val wh = Files.createTempDirectory("graft-no-spawn").toString
    val fs = new Path(wh).getFileSystem(hc)
    // the probe sees Hadoop's shell chmod: a plain create spawns it
    val plain = processesStartedBy(fs.create(new Path(wh, "plain"), true).close())
    assert(plain.count(_.contains("chmod")) == 2, plain) // the file and its .crc
    val d = new GraftDriver(spark, wh)
    val spawned = processesStartedBy {
      d.createTopic("t", partitions = 4)
      val producer = d.openTopic("t").producer(chunkMaxRecords = 60)
      ProduceInput.Both.foreach(in => producer.produce(in(batch(400))): Unit)
    }
    assert(!spawned.exists(_.contains("chmod")), spawned)
    assert(d.catalog.readManifest("t").get.watermarks.values.sum == 800)
  }
}
