package graft.engine

import java.nio.file.Files

import scala.util.Random

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.SparkSpec

/**
 * A driver-resident batch is validated, placed, numbered and written on the
 * driver; any other input goes through Spark jobs. This differential runs
 * the same seeded rows through both and compares what the log holds: the
 * same `(partition, event_id, metadata, data)` wherever placement is a
 * contract (explicit requests, selectors on keyed rows, `__order`), the
 * same events, dense ids and input order per partition where it is not
 * (round-robin), and the same abort — message, nothing committed, nothing
 * left behind — when a batch is rejected. Every produce is checked to have
 * taken the path its input selects.
 */
class ProducePathsSpec extends SparkSpec {

  private val Seed = 6L

  /** (partition, event_id, metadata, data as text) */
  type Event = (Int, Long, String, Option[String])

  private val Schema = StructType(Seq(
    StructField("metadata", StringType), StructField("data", BinaryType),
    StructField("partition", IntegerType), StructField("__order", LongType)))

  /** Seeded rows: metadata `{"i":…,"key":…,"k":…}` (input index, a string
    * key, an integer key; `keyed = false` drops both keys from every third
    * row), a payload that is null on about a quarter of the rows, an
    * explicit partition that may be negative, and `__order` = the input
    * index, which starts at `from`. */
  private def rows(n: Int, seed: Long, keyed: Boolean = true, from: Int = 0): Seq[Row] = {
    val r = new Random(seed)
    (from until from + n).map { i =>
      val keys = if (!keyed && i % 3 == 0) "" else s""","key":"k${r.nextInt(50)}","k":${r.nextInt(1000) - 500}"""
      val data = if (r.nextInt(4) == 0) null else s"payload-$i-${r.nextLong()}".getBytes("UTF-8")
      Row(s"""{"i":$i$keys}""", data, r.nextInt(40) - 20, i.toLong)
    }
  }

  /** A local frame of `rows` with the named columns of [[Schema]]. */
  private def frame(rows: Seq[Row], columns: String*): DataFrame = {
    val idx = columns.map(Schema.fieldIndex)
    spark.createDataFrame(java.util.Arrays.asList(rows.map(r => Row(idx.map(r.get): _*)): _*),
      StructType(idx.map(Schema(_))))
  }

  private final case class Topic(d: GraftDriver, handle: TopicHandle) {
    def events: Seq[Event] = handle.events().select("partition", "event_id", "metadata", "data")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2),
        Option(r.getAs[Array[Byte]](3)).map(new String(_, "UTF-8"))))
      .toSeq.sortBy(e => (e._1, e._2))
    def ranges: Seq[(Int, Long, Long)] = d.catalog.readManifest("t").toSeq
      .flatMap(_.files.toSeq.flatMap { case (p, fs) => fs.map(f => (p, f.lo, f.hi)) }).sorted
    /** Intents, and staging dirs of either produce entry, left behind. */
    def leftovers: Seq[String] = {
      val root = new Path(d.catalog.topicPath("t"), "log.staging")
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val staging = if (fs.exists(root)) fs.listStatus(root).toSeq.map(_.getPath.getName) else Nil
      d.catalog.listProduceIntents("t").map(_._1) ++ staging
    }
  }

  private def newTopic(partitions: Int, validator: Validator = Validator.Default,
                       selector: PartitionSelector = PartitionSelector.RoundRobin,
                       serializer: Serializer = Serializer.Json): Topic = {
    val d = new GraftDriver(spark, Files.createTempDirectory("graft-paths-spec").toString)
    d.createTopic("t", partitions, validator, selector, serializer)
    Topic(d, d.openTopic("t"))
  }

  type Ranges = Map[Int, (Long, Long)]

  /** The two produce entries: the concurrent `produce` and the lock-held
    * one behind a transaction. `around` wraps the produce call alone. */
  private sealed abstract class Entry(val label: String) {
    def produce(t: Topic, df: DataFrame, chunkMaxRecords: Long = 1000000L,
                around: (=> Ranges) => Ranges = r => r): Ranges
  }
  private case object Concurrent extends Entry("produce") {
    def produce(t: Topic, df: DataFrame, chunkMaxRecords: Long,
                around: (=> Ranges) => Ranges): Ranges =
      around(t.handle.producer(chunkMaxRecords = chunkMaxRecords).produce(df))
  }
  private case object Held extends Entry("transaction") {
    def produce(t: Topic, df: DataFrame, chunkMaxRecords: Long,
                around: (=> Ranges) => Ranges): Ranges = {
      val id = s"tx-${java.util.UUID.randomUUID()}"
      t.d.catalog.beginTxn("t", id)
      val tx = new TransactionalProducer(t.d.catalog, "t", id,
        t.handle.producer(chunkMaxRecords = chunkMaxRecords))
      val res = try around(tx.produce(df)) catch {
        case e: Throwable => tx.abort(); throw e
      }
      tx.commit()
      res
    }
  }

  /** Each input's topic after producing `batches` (local frames) into a
    * fresh topic built by `mk`, through `entry`. */
  private def onBothPaths(mk: => Topic, batches: Seq[DataFrame], entry: Entry = Concurrent,
                          chunkMaxRecords: Long = 1000000L): Map[ProduceInput, Topic] =
    ProduceInput.Both.map { in =>
      val t = mk
      batches.foreach(b => entry.produce(t, in(b), chunkMaxRecords, in.run(spark)(_)))
      in -> t
    }.toMap

  private def assertSameEvents(ts: Map[ProduceInput, Topic]): Seq[Event] = {
    val local = ts(ProduceInput.Local).events
    assert(local.nonEmpty)
    assert(ts(ProduceInput.Distributed).events == local)
    local
  }

  /** Ids dense from 0 in each partition, and in input order (`"i"`). */
  private def assertDenseInInputOrder(events: Seq[Event]): Unit =
    events.groupBy(_._1).foreach { case (p, es) =>
      val byId = es.sortBy(_._2)
      assert(byId.map(_._2) == byId.indices.map(_.toLong), s"partition $p ids not dense")
      val idx = byId.map(e => """"i":(\d+)""".r.findFirstMatchIn(e._3).get.group(1).toInt)
      assert(idx == idx.sorted, s"partition $p ids not in input order")
    }

  Seq(Concurrent, Held).foreach { entry =>
    test(s"explicit partitions give identical events on both paths (${entry.label})") {
      val batches = Seq(0, 1).map(b =>
        frame(rows(300, Seed + b, from = 300 * b), "metadata", "data", "partition"))
      assertDenseInInputOrder(assertSameEvents(onBothPaths(newTopic(5), batches, entry)))
    }

    test(s"__order with unique values gives identical events on both paths (${entry.label})") {
      // shuffled input: `__order` (unique) restores the push order
      val shuffled = new Random(Seed).shuffle(rows(300, Seed))
      val ts = onBothPaths(newTopic(4),
        Seq(frame(shuffled, "metadata", "data", "partition", "__order")), entry)
      assertDenseInInputOrder(assertSameEvents(ts))
    }
  }

  test("metadata_hash and metadata_field_mod selectors on keyed rows give identical events") {
    Seq(PartitionSelector.MetadataHash("$.key"), PartitionSelector.FieldMod("$.k")).foreach { sel =>
      val ts = onBothPaths(newTopic(6, selector = sel),
        Seq(frame(rows(400, Seed), "metadata", "data")))
      val events = assertSameEvents(ts)
      assert(events.map(_._1).distinct.size == 6, s"$sel used only some partitions")
      assertDenseInInputOrder(events)
    }
  }

  test("the Base64 serializer stores and decodes identically on both paths") {
    val ts = onBothPaths(newTopic(3, serializer = Serializer.Base64),
      Seq(frame(rows(200, Seed), "metadata", "data", "partition")))
    val events = assertSameEvents(ts)
    assert(events.forall(_._3.startsWith("""{"i":""")), "metadata not decoded")
    val stored = ts.values.map(t => spark.read.parquet(t.d.catalog.logPath("t"))
      .select("partition", "event_id", "metadata").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSeq.sorted)
    assert(stored.toSet.size == 1, "stored (Base64) metadata differs between the paths")
    assert(!stored.head.head._3.startsWith("{"))
  }

  test("null payloads and chunk rotation give identical events and chunk ranges") {
    val batches = Seq(0, 1, 2).map(b =>
      frame(rows(90, Seed + b, from = 90 * b), "metadata", "data", "partition"))
    val ts = onBothPaths(newTopic(3), batches, chunkMaxRecords = 7)
    val events = assertSameEvents(ts)
    assert(events.exists(_._4.isEmpty) && events.exists(_._4.nonEmpty))
    val ranges = ts(ProduceInput.Local).ranges
    assert(ranges.forall { case (_, lo, hi) => hi - lo + 1 <= 7 })
    assert(ts(ProduceInput.Distributed).ranges == ranges)
  }

  test("round-robin and selector fallback: same events, dense ids, input order per partition") {
    def multiset(es: Seq[Event]) = es.map(e => (e._3, e._4)).sorted
    val rr = onBothPaths(newTopic(4),
      Seq(0, 1).map(b => frame(rows(250, Seed + b, from = 250 * b), "metadata", "data")))
    val fallback = onBothPaths(newTopic(4, selector = PartitionSelector.FieldMod("$.k")),
      Seq(frame(rows(300, Seed, keyed = false), "metadata", "data")))
    Seq(rr, fallback).foreach { ts =>
      val Seq(local, dist) = ProduceInput.Both.map(ts(_).events)
      assert(multiset(local) == multiset(dist))
      assertDenseInInputOrder(local)
      assertDenseInInputOrder(dist)
    }
  }

  test("round-robin spreads 1,000 driver-resident rows exactly evenly, in input order") {
    val t = newTopic(4)
    val res = ProduceInput.Local.run(spark)(
      t.handle.producer().produce(frame(rows(1000, Seed), "metadata", "data")))
    assert(res == (0 until 4).map(_ -> (0L, 250L)).toMap)
    val events = t.events
    assert(events.groupBy(_._1).view.mapValues(_.size).toMap == (0 until 4).map(_ -> 250).toMap)
    assertDenseInInputOrder(events)
  }

  /** `df` (a local frame) is rejected identically on both paths and both
    * entries: the same message, and the topic as it was before. */
  private def assertRejected(mk: => Topic, df: DataFrame, expected: String): Unit = {
    val messages = for (entry <- Seq(Concurrent, Held); in <- ProduceInput.Both) yield {
      val t = mk
      entry.produce(t, frame(kinded("good").take(20), "metadata", "data"))
      val (before, watermark) = (t.events, t.handle.snapshot())
      val e = intercept[Exception](entry.produce(t, in(df)))
      assert(t.events == before, s"${in.label} (${entry.label}) committed events")
      assert(t.handle.snapshot() == watermark, s"${in.label} (${entry.label}) moved the watermark")
      assert(t.leftovers.isEmpty, s"${in.label} (${entry.label}) left ${t.leftovers}")
      e.getMessage
    }
    assert(messages.distinct.size == 1, messages)
    assert(messages.head.contains(expected), messages.head)
  }

  private val bad = Row("""{"i":7,"kind":"bad"}""", null, 0, 7L)
  /** [[rows]] with `"kind":"<kind>"` in every metadata document. */
  private def kinded(kind: String): Seq[Row] =
    rows(30, Seed).map(r => Row(r.getString(0).replace("{", s"""{"kind":"$kind","""),
      r.get(1), r.get(2), r.get(3)))

  test("a validator failure aborts the produce identically on both paths, nothing committed") {
    val eventBridge = Validator.EventBridgeValidator("""{"kind":["good"]}""")
    assertRejected(newTopic(3, validator = eventBridge),
      frame(kinded("good").patch(11, Seq(bad), 1), "metadata", "data"),
      """Invalid metadata rejected by validator: {"i":7,"kind":"bad"}""")
    val schema = Validator.SchemaValidator(
      """{"type":"object","required":["i"],"properties":{"i":{"type":"integer","maximum":100}}}""")
    assertRejected(newTopic(3, validator = schema),
      frame(rows(30, Seed).patch(5, Seq(Row("""{"i":700}""", null, 0, 0L)), 1), "metadata", "data"),
      """Invalid metadata rejected by validator: {"i":700}""")
  }

  test("a null or non-numeric __order aborts the produce identically on both paths") {
    assertRejected(newTopic(2),
      frame(rows(30, Seed).patch(3, Seq(Row("""{"i":3}""", null, 0, null)), 1),
        "metadata", "data", "__order"),
      "produce() column '__order' must not be null")
    val text = spark.createDataFrame(java.util.Arrays.asList(Row("""{"i":0}""", "first")),
      StructType(Seq(StructField("metadata", StringType), StructField("__order", StringType))))
    assertRejected(newTopic(2), text, "produce() column '__order' must be numeric")
  }

  test("an EventBridge validator rejects metadata with trailing content; whitespace passes") {
    val eventBridge = Validator.EventBridgeValidator("""{"kind":["good"]}""")
    Seq("""{"kind":"good"} x""", """{"kind":"good"}{"kind":"good"}""", """{"kind":"good"},""",
        """{'kind':'good'} 1""").foreach { md =>
      assertRejected(newTopic(2, validator = eventBridge),
        frame(kinded("good").patch(4, Seq(Row(md, null, 0, 0L)), 1), "metadata", "data"),
        s"Invalid metadata rejected by validator: $md")
    }
    val spaced = Seq(" {\"kind\":\"good\"} \n", "\t{\"kind\":\"good\",\"x\":\"café\"}\r\n",
      "{'kind':'good'}  ")
    val ts = onBothPaths(newTopic(2, validator = eventBridge),
      Seq(frame(spaced.map(md => Row(md, null, 0, 0L)), "metadata", "data", "partition")))
    assert(assertSameEvents(ts).map(_._3) == spaced)
  }
}
