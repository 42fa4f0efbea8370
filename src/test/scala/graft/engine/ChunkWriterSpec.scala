package graft.engine

import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/**
 * The produce write path's direct chunk writer and its report-driven
 * commit: write tasks write Parquet chunks into private staging and report
 * each file with its id range; the commit moves and registers exactly the
 * reported files. These specs pin the chunk layout (footer ranges equal the
 * manifest's, dense push-order ids, rotation), that unreported debris is
 * never moved or adopted on either produce path, that a failed write leaves
 * nothing in the log, that the writer follows the session's Parquet conf,
 * and the footer-read pool behind the manifest heal. Each spec runs once on
 * a driver-resident batch (written from the driver) and once on the same
 * rows as a distributed input (written by Spark tasks).
 */
class ChunkWriterSpec extends SparkSpec {

  private def hc = spark.sparkContext.hadoopConfiguration

  private def newTopic(partitions: Int): (GraftDriver, TopicHandle, FileSystem) = {
    val d = new GraftDriver(spark, Files.createTempDirectory("graft-chunk-spec").toString)
    d.createTopic("t", partitions = partitions)
    (d, d.openTopic("t"), new Path(d.warehouse).getFileSystem(hc))
  }

  /** Rows `i` in `range`: partition `i % 3`, metadata `{"i":i}`, a null
    * payload on every fourth row. */
  private def rows(range: Range): DataFrame = {
    import spark.implicits._
    range.map(i => (s"""{"i":$i}""",
      if (i % 4 == 0) null else s"payload-$i".getBytes("UTF-8"), i % 3))
      .toDF("metadata", "data", "partition")
  }

  private def logChunks(d: GraftDriver, fs: FileSystem): Seq[Path] = {
    val log = new Path(d.catalog.logPath("t"))
    if (!fs.exists(log)) Nil
    else fs.listStatus(log).toSeq.filter(_.isDirectory).flatMap(pd =>
      fs.listStatus(pd.getPath).toSeq.map(_.getPath)
        .filter(_.getName.endsWith(".parquet")))
  }

  private def stagingLeft(d: GraftDriver, fs: FileSystem): Seq[String] = {
    val root = new Path(d.catalog.topicPath("t"), "log.staging")
    if (!fs.exists(root)) Nil else fs.listStatus(root).toSeq.map(_.getPath.getName)
  }

  /** A valid chunk holding ids `[first, first + n)` on partition 0, written
    * under `dir/partition=0/` the way a failed task attempt would leave it. */
  private def plantDebris(dir: Path, first: Long, n: Int): Path = {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-chunk-debris").toString
    (0 until n).map(i => (first + i, """{"debris":true}""", null: Array[Byte]))
      .toDF("event_id", "metadata", "data").coalesce(1).write.mode("overwrite").parquet(tmp)
    val fs = dir.getFileSystem(hc)
    val src = fs.listStatus(new Path(tmp)).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    val dst = new Path(dir, "partition=0/part-99999-debris.c000.snappy.parquet")
    fs.mkdirs(dst.getParent)
    assert(fs.rename(src, dst))
    dst
  }

  /** Registers `name` once per produce input: the driver-resident batch
    * under `name` itself, the distributed one with its label appended. */
  private def onBothPaths(name: String)(body: ProduceInput => Unit): Unit =
    ProduceInput.Both.foreach { in =>
      test(if (in == ProduceInput.Local) name else s"$name [${in.label}]")(body(in))
    }

  private def withAfterWrite[T](hook: Path => Unit)(body: => T): T = {
    Producer.afterWrite = hook
    try body finally Producer.afterWrite = _ => ()
  }

  private def codecOf(f: Path): CompressionCodecName = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, hc))
    try r.getFooter.getBlocks.get(0).getColumns.get(0).getCodec
    finally r.close()
  }

  onBothPaths("rotating produces: manifest ranges equal footer ranges; ids dense in push order") { in =>
    val (d, topic, fs) = newTopic(partitions = 3)
    val producer = topic.producer(chunkMaxRecords = 7)
    // unordered path: push order is input row order
    in.run(spark)(producer.produce(in(rows(0 until 60)))): Unit
    // __order path: a shuffled batch whose __order restores push order
    val shuffled = new scala.util.Random(7).shuffle((60 until 120).toVector)
    val ordered = {
      import spark.implicits._
      shuffled.map(i => (s"""{"i":$i}""",
        if (i % 4 == 0) null else s"payload-$i".getBytes("UTF-8"), i % 3, i.toLong))
        .toDF("metadata", "data", "partition", "__order")
    }
    in.run(spark)(producer.produce(in(ordered))): Unit

    val m = d.catalog.readManifest("t").get
    val entries = m.files.toSeq.flatMap { case (p, fsq) => fsq.map(p -> _) }
    // 20 events per partition per produce at 7 per file: 3 files each
    assert(entries.size == 3 * 2 * 3, entries)
    entries.foreach { case (_, f) =>
      val path = new Path(d.catalog.logPath("t"), f.path)
      assert(Catalog.fileIdRangeOpt(path, hc).contains((f.lo, f.hi)), f)
      assert(f.hi - f.lo + 1 <= 7, f)
    }
    assert(logChunks(d, fs).size == entries.size, "every log chunk is in the manifest")
    // the chunk layout: the same schema and the default codec
    val sample = new Path(d.catalog.logPath("t"), entries.head._2.path)
    assert(spark.read.parquet(sample.toString).schema == Producer.ChunkSchema)
    assert(codecOf(sample) == CompressionCodecName.SNAPPY)

    val ev = topic.events().select("partition", "event_id", "metadata", "data")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2),
        Option(r.getAs[Array[Byte]](3)).map(new String(_, "UTF-8"))))
    assert(ev.length == 120)
    ev.groupBy(_._1).foreach { case (p, es) =>
      val byId = es.sortBy(_._2)
      assert(byId.map(_._2).toSeq == (0L until 40L), s"partition $p ids not dense")
      val pushed = byId.map(_._3.stripPrefix("""{"i":""").stripSuffix("}").toInt)
      assert(pushed.toSeq == (0 until 120).filter(_ % 3 == p),
        s"partition $p ids not in push order")
      byId.foreach { case (_, _, md, data) =>
        val i = md.stripPrefix("""{"i":""").stripSuffix("}").toInt
        assert(data == (if (i % 4 == 0) None else Some(s"payload-$i")))
      }
    }
  }

  onBothPaths("unreported debris in a concurrent produce's staging is neither moved nor adopted") { in =>
    val (d, topic, fs) = newTopic(partitions = 1)
    topic.producer().produce(in(rows(0 until 5))): Unit
    var planted: Path = null
    withAfterWrite(dir => planted = plantDebris(dir, first = 5L, n = 2)) {
      in.run(spark)(topic.producer().produce(in(rows(5 until 10)))): Unit
    }
    assert(planted != null && planted.toString.contains("log.staging"))
    assert(!logChunks(d, fs).exists(_.getName.contains("debris")), "debris was moved")
    val listed = d.catalog.readManifest("t").get.files.valuesIterator.flatten.map(_.path)
    assert(!listed.exists(_.contains("debris")), "debris was adopted")
    assert(stagingLeft(d, fs).isEmpty, "the staging dir must be gone after commit")
    val ids = topic.events().select("event_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (0L until 10L))
  }

  onBothPaths("unreported debris on the lock-held path is neither moved nor adopted") { in =>
    val (d, topic, fs) = newTopic(partitions = 1)
    topic.producer().produce(in(rows(0 until 5))): Unit
    var planted: Path = null
    val tx = topic.beginTransaction("held")
    withAfterWrite(dir => planted = plantDebris(dir, first = 5L, n = 2)) {
      in.run(spark)(tx.produce(in(rows(5 until 10)))): Unit
    }
    tx.commit()
    assert(planted != null && planted.toString.contains("log.staging"),
      "the lock-held write must stage privately, never in the log")
    assert(!logChunks(d, fs).exists(_.getName.contains("debris")), "debris was moved")
    val listed = d.catalog.readManifest("t").get.files.valuesIterator.flatten.map(_.path)
    assert(!listed.exists(_.contains("debris")), "debris was adopted")
    assert(stagingLeft(d, fs).isEmpty, "the staging dir must be gone after commit")
    val ids = topic.events().select("event_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (0L until 10L))
  }

  onBothPaths("a produce whose write job throws leaves no chunk in the log, on either path") { in =>
    /** A plain file where the staging root belongs: every write task fails. */
    def blocked[T](d: GraftDriver, fs: FileSystem)(body: => T): T = {
      val blocker = new Path(d.catalog.topicPath("t"), "log.staging")
      fs.delete(blocker, true)
      fs.create(blocker, true).close()
      try body finally fs.delete(blocker, false)
    }
    // concurrent path, then a produce that takes the same ids
    val (d, topic, fs) = newTopic(partitions = 2)
    topic.producer().produce(in(rows(0 until 6))): Unit
    val before = logChunks(d, fs).toSet
    blocked(d, fs)(intercept[Exception](topic.producer().produce(in(rows(6 until 12)))))
    assert(logChunks(d, fs).toSet == before, "a failed write left chunks in the log")
    assert(d.catalog.listProduceIntents("t").isEmpty)
    in.run(spark)(topic.producer().produce(in(rows(6 until 12)))): Unit
    val ev = topic.events().select("partition", "event_id").collect()
      .map(r => r.getInt(0) -> r.getLong(1))
    assert(ev.length == 12)
    ev.groupBy(_._1).values.foreach(es =>
      assert(es.map(_._2).sorted.toSeq == (0L until es.length.toLong)))

    // lock-held path
    val (d2, topic2, fs2) = newTopic(partitions = 2)
    topic2.producer().produce(in(rows(0 until 6))): Unit
    val before2 = logChunks(d2, fs2).toSet
    val tx = topic2.beginTransaction("fails")
    blocked(d2, fs2)(intercept[Exception](tx.produce(in(rows(6 until 12)))))
    assert(logChunks(d2, fs2).toSet == before2, "a failed write left chunks in the log")
    assert(stagingLeft(d2, fs2).isEmpty)
  }

  onBothPaths("the chunk writer follows the session's Parquet codec, changed after a produce") { in =>
    val (d, topic, _) = newTopic(partitions = 1)
    val key = "spark.sql.parquet.compression.codec"
    def newest(): Path = {
      val m = d.catalog.readManifest("t").get
      new Path(d.catalog.logPath("t"), m.files(0).maxBy(_.lo).path)
    }
    val prev = spark.conf.getOption(key)
    try {
      in.run(spark)(topic.producer().produce(in(rows(0 until 3)))): Unit
      assert(codecOf(newest()) == CompressionCodecName.SNAPPY)
      spark.conf.set(key, "gzip")
      in.run(spark)(topic.producer().produce(in(rows(3 until 6)))): Unit
      assert(codecOf(newest()) == CompressionCodecName.GZIP)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    assert(topic.events().count() == 6)
  }

  onBothPaths("a manifest heal adopts many files through the footer pool; errors surface unwrapped") { in =>
    val (d, topic, fs) = newTopic(partitions = 1)
    in.run(spark)(topic.producer(chunkMaxRecords = 1).produce(in(rows(0 until 40)))): Unit
    assert(logChunks(d, fs).size == 40)
    // lose the manifest: the next non-produce commit heals it from the log
    assert(fs.delete(new Path(d.catalog.topicPath("t"), "_manifest"), true))
    assert(d.catalog.readManifest("t").isEmpty)
    d.catalog.updateManifest("t", d.catalog.nextIds("t"))
    val healed = d.catalog.readManifest("t").get.files(0)
    assert(healed.size == 40)
    assert(healed.map(f => (f.lo, f.hi)).sorted == (0L until 40L).map(i => (i, i)))

    val paths = logChunks(d, fs)
    val missing = new Path(paths.head.getParent, "part-missing.parquet")
    intercept[java.io.FileNotFoundException](
      Catalog.footerRanges(paths :+ missing, hc))
    assert(Catalog.footerRanges(paths, hc).flatten.size == 40)
  }

  test("a failed task on a pool returns only after the tasks already running finish") {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val started = new java.util.concurrent.CountDownLatch(1)
      val finished = new java.util.concurrent.atomic.AtomicBoolean(false)
      val e = intercept[IllegalStateException](Catalog.onPool(pool, Seq(
        () => { started.await(); throw new IllegalStateException("first") },
        () => { started.countDown(); Thread.sleep(300); finished.set(true) })))
      assert(e.getMessage == "first")
      assert(finished.get, "onPool returned while a task still ran")
    } finally pool.shutdown()
  }
}
