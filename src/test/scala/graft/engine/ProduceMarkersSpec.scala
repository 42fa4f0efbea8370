package graft.engine

import java.io.IOException
import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/**
 * The log's invariant, from the producer's side: a chunk file sits in
 * `log/` without a manifest entry only while a crash marker covers it, so
 * a produce commit registers its own files without listing the log. A
 * producer's own failure after its renames takes the moved files out again
 * before its marker goes; debris that no marker covers (which the protocol
 * never leaves) is never adopted, never read through the manifest, and
 * reaped by vacuum.
 */
class ProduceMarkersSpec extends SparkSpec {
  import spark.implicits._

  private def newTopic(): (GraftDriver, TopicHandle, FileSystem) = {
    val wh = Files.createTempDirectory("graft-markers").toString
    val d = new GraftDriver(spark, wh)
    d.createTopic("t", partitions = 2)
    (d, d.openTopic("t"), new Path(wh).getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  private def batch(tag: String, n: Int): DataFrame =
    (0 until n).map(i => (s"""{"$tag":$i}""", i % 2)).toDF("metadata", "partition")

  /** Chunk files in the log that no manifest entry lists. */
  private def unregistered(d: GraftDriver, fs: FileSystem): Set[String] = {
    val onDisk = fs.listStatus(new Path(d.catalog.logPath("t"))).toSeq
      .filter(_.isDirectory).flatMap(dir => fs.listStatus(dir.getPath).toSeq)
      .map(_.getPath).filter(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("."))
      .map(p => s"${p.getParent.getName}/${p.getName}").toSet
    onDisk -- d.catalog.readManifest("t").get.files.values.flatten.map(_.path)
  }

  private def staged(d: GraftDriver, fs: FileSystem): Seq[String] = {
    val root = new Path(d.catalog.topicPath("t"), "log.staging")
    if (!fs.exists(root)) Nil else fs.listStatus(root).toSeq.map(_.getPath.getName)
  }

  private def assertDense(topic: TopicHandle): Unit =
    topic.events().groupBy(col("partition"))
      .agg(count(lit(1)), countDistinct(col("event_id")), max(col("event_id")))
      .collect().foreach { r =>
        assert(r.getLong(1) == r.getLong(2) && r.getLong(3) == r.getLong(1) - 1,
          s"ids not dense on partition ${r.getInt(0)}: $r")
      }

  private val paths: Seq[(String, TopicHandle => DataFrame => Map[Int, (Long, Long)])] = Seq(
    "concurrent" -> (t => df => t.producer().produce(df)),
    "lock-held (idempotent)" -> (t => df => t.idempotentProducer("p").produce(df, 0L)))

  paths.foreach { case (label, produce) =>
    test(s"a commit failing after its renames leaves nothing in the log and reuses its ids [$label]") {
      val (d, topic, fs) = newTopic()
      topic.producer().produce(batch("a", 6)): Unit
      val wm = d.catalog.nextIds("t")
      Catalog.beforeRegister = _ => throw new IOException("injected commit failure")
      val e =
        try intercept[IOException](produce(topic)(batch("b", 4)))
        finally Catalog.beforeRegister = _ => ()
      assert(e.getMessage == "injected commit failure")
      assert(unregistered(d, fs).isEmpty, "a moved chunk outlived its failed commit")
      assert(d.catalog.listProduceIntents("t").isEmpty, "the intent outlived its failed commit")
      assert(staged(d, fs).isEmpty, "staging outlived its failed commit")
      assert(d.catalog.nextIds("t") == wm)
      val r = produce(topic)(batch("c", 4))
      assert(r.map { case (p, (first, _)) => p -> first } == wm, "the failed commit's ids reused")
      assert(topic.events().count() == 10)
      assert(topic.events().filter(col("metadata").startsWith("""{"b":""")).count() == 0)
      assertDense(topic)
    }
  }

  test("a failure after the commit point keeps the chunks it registered") {
    val (d, topic, fs) = newTopic()
    topic.producer().produce(batch("a", 6)): Unit // ids 0-2 on each partition
    val staging = d.catalog.heldStagingDir("t")
    (3L until 5L).map(i => (0, i, s"""{"b":$i}""", null: Array[Byte]))
      .toDF("partition", "event_id", "metadata", "data")
      .coalesce(1).write.partitionBy("partition").parquet(staging.toString)
    val chunks = fs.listStatus(new Path(staging, "partition=0")).toSeq.map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("."))
      .map(ChunkReport(0, _, 3L, 4L, 2L))
    d.catalog.acquireProduceLock("t")
    val e =
      try intercept[IOException](
        d.catalog.commitChunks("t", staging, chunks, dropStaging = true) {
          d.catalog.updateManifest("t", Map(0 -> 5L), produced = chunks)
          throw new IOException("failed after the manifest entry")
        })
      finally d.catalog.releaseProduceLock("t")
    assert(e.getMessage == "failed after the manifest entry")
    assert(chunks.forall(c => fs.exists(new Path(d.catalog.logPath("t"), c.rel))),
      "committed chunks deleted")
    assert(unregistered(d, fs).isEmpty && !fs.exists(staging))
    // the next entry heals the id watermark forward to the manifest's
    topic.producer().produce(batch("c", 2)): Unit
    assert(topic.events().count() == 10)
    assertDense(topic)
  }

  test("marker-less debris in a live catalog is never adopted, never read through the manifest, and reaped by vacuum") {
    val (d, topic, fs) = newTopic()
    val producer = topic.producer()
    producer.produce(batch("a", 6)): Unit // this catalog's first produce: its purge is spent
    // a valid chunk above the watermark, with no crash marker beside it
    val tmp = Files.createTempDirectory("graft-debris").toString
    (50L until 60L).map(i => (i, s"""{"z":$i}""", Array[Byte](1)))
      .toDF("event_id", "metadata", "data").coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = fs.listStatus(new Path(tmp)).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).head
    val debris = new Path(d.catalog.logPath("t") + "/partition=0", "debris-" + part.getName)
    assert(fs.rename(part, debris))

    producer.produce(batch("b", 4)): Unit
    topic.idempotentProducer("p").produce(batch("c", 4), 0L): Unit
    topic.deleteWhereVectored(col("metadata") === """{"a":0}"""): Unit // a listing commit
    assert(unregistered(d, fs) == Set("partition=0/" + debris.getName), "debris adopted")
    // a read planned from the manifest never opens it; the listing-based
    // `events()` sees the log directory as it is until vacuum runs
    val planned = spark.read.format("graft")
      .option("warehouse", d.warehouse).option("topic", "t").load()
    assert(planned.filter(col("metadata").startsWith("""{"z":""")).count() == 0,
      "debris read through the manifest")
    assert(planned.count() == 13)

    val report = topic.vacuum()
    assert(report.uncommittedChunks == 1)
    assert(!fs.exists(debris) && unregistered(d, fs).isEmpty)
    assert(topic.events().count() == 13)
  }
}
