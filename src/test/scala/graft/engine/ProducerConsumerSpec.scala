package graft.engine

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/**
 * Produce→consume lifecycle, replaying
 * `/root/reference/tests/MofkaEventConsumerTest.cpp:45-135`: 100 events
 * `{"event_num":i}` with payload "This is data for event i", flush,
 * markAsComplete; pull returns ids 0..99 in order with metadata intact,
 * acknowledge every 5th, extra pulls yield NoMoreEvents; at-least-once
 * resume for a re-created consumer of the same name.
 */
class ProducerConsumerSpec extends SparkSpec {

  private def newTopic(partitions: Int = 1): (GraftDriver, TopicHandle) = {
    val d = new GraftDriver(spark, Files.createTempDirectory("graft-pc-spec").toString)
    d.createTopic("mytopic", partitions = partitions)
    (d, d.openTopic("mytopic"))
  }

  private def produce100(topic: TopicHandle): Unit = {
    val producer = topic.producer()
    (0 until 100).foreach { i =>
      producer.push(s"""{"event_num":$i}""",
        s"This is data for event $i".getBytes(StandardCharsets.UTF_8))
    }
    producer.flush()
  }

  test("ids are dense 0..99 in push order; metadata and payload round-trip") {
    val (_, topic) = newTopic()
    produce100(topic)
    topic.markAsComplete()

    val consumer = topic.consumer("myconsumer")
    (0 until 100).foreach { i =>
      val Pull.Next(e) = consumer.pull(): @unchecked
      assert(e.eventId == i)
      assert(e.metadata == s"""{"event_num":$i}""")
      assert(new String(e.data, StandardCharsets.UTF_8) == s"This is data for event $i")
      if (i % 5 == 0) consumer.acknowledge(e)
    }
    (0 until 10).foreach { _ => assert(consumer.pull() == Pull.NoMoreEvents) }
  }

  test("push futures resolve to the assigned ids at flush") {
    val (_, topic) = newTopic()
    val producer = topic.producer()
    val pending = (0 until 10).map(i => producer.push(s"""{"i":$i}"""))
    assert(!pending.head.isCompleted)
    intercept[IllegalStateException] { pending.head.eventId }
    producer.flush()
    assert(pending.map(_.eventId) == (0L until 10L))
    // a second flush continues the dense sequence
    val more = (0 until 5).map(i => producer.push(s"""{"i":${10 + i}}"""))
    producer.flush()
    assert(more.map(_.eventId) == (10L until 15L))
  }

  test("at-least-once: a re-created consumer resumes from the acked cursor") {
    val (_, topic) = newTopic()
    produce100(topic)
    topic.markAsComplete()

    val c1 = topic.consumer("myconsumer")
    (0 until 100).foreach { i =>
      val Pull.Next(e) = c1.pull(): @unchecked
      if (i % 5 == 0) c1.acknowledge(e) // last ack: id 95 → cursor 96
    }
    // same name ⇒ resume at 96 (ids 96..99 were pulled but never acked)
    val c2 = topic.consumer("myconsumer")
    val replayed = Iterator.continually(c2.pull())
      .takeWhile(_ != Pull.NoMoreEvents)
      .collect { case Pull.Next(e) => e.eventId }.toSeq
    assert(replayed == Seq(96L, 97L, 98L, 99L))
    // a different name starts from scratch
    val fresh = topic.consumer("other")
    val Pull.Next(first) = fresh.pull(): @unchecked
    assert(first.eventId == 0L)
  }

  test("ids are dense per partition across 4 partitions (explicit requests)") {
    val (d, topic) = newTopic(partitions = 4)
    val producer = topic.producer()
    (0 until 100).foreach { i =>
      producer.push(s"""{"event_num":$i}""", partition = Some(i % 4))
    }
    producer.flush()

    val byPartition = topic.events()
      .groupBy(col("partition"))
      .agg(count(lit(1)).as("n"), min(col("event_id")).as("lo"),
        max(col("event_id")).as("hi"),
        countDistinct(col("event_id")).as("d"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(byPartition.keySet == Set(0, 1, 2, 3))
    byPartition.values.foreach { case (n, lo, hi, d) =>
      assert(n == 25 && lo == 0 && hi == 24 && d == 25)
    }
    assert(d.catalog.nextIds("mytopic") == Map(0 -> 25L, 1 -> 25L, 2 -> 25L, 3 -> 25L))
  }

  test("round-robin spreads events across all partitions; batch produce works") {
    val (_, topic) = newTopic(partitions = 4)
    import spark.implicits._
    val df = (0 until 80).map(i => s"""{"i":$i}""").toDF("metadata")
    val ranges = topic.producer().produce(df)
    assert(ranges.keySet == Set(0, 1, 2, 3))
    assert(ranges.values.map(_._2).sum == 80)
    ranges.values.foreach { case (first, _) => assert(first == 0L) }
  }

  test("ids stay dense when producing from a shuffled, repartitioned source") {
    // round-robin repartition makes row→task placement non-deterministic
    // across jobs — exactly the divergence hazard between the count pass
    // and the write pass; the eager checkpoint in produce() pins one
    // assignment for both
    val (d, topic) = newTopic(partitions = 4)
    import spark.implicits._
    val df = (0 until 200).map(i => s"""{"i":$i}""").toDF("metadata")
      .repartition(16) // round-robin exchange, no deterministic key
    val ranges = topic.producer().produce(df)
    assert(ranges.values.map(_._2).sum == 200)
    val byPartition = topic.events()
      .groupBy(col("partition"))
      .agg(count(lit(1)).as("n"), min(col("event_id")).as("lo"),
        max(col("event_id")).as("hi"), countDistinct(col("event_id")).as("d"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    byPartition.foreach { case (n, lo, hi, dct) =>
      assert(lo == 0 && hi == n - 1 && dct == n, s"ids not dense: $byPartition")
    }
    assert(topic.events().filter(col("event_id").isNull).count() == 0)
    assert(d.catalog.nextIds("mytopic").values.sum == 200L)
  }

  test("fused count pass: sparse-partition and empty batches reserve exactly the written ranges") {
    // produce()'s per-partition counts ride the checkpoint materialization
    // as observed metrics (r17 optimization) — this pins the edge shapes:
    // a batch touching only SOME partitions must reserve nothing on the
    // untouched ones, and an empty batch must reserve nothing at all.
    val (d, topic) = newTopic(partitions = 4)
    import spark.implicits._
    val sparse = (0 until 30).map(i => (s"""{"i":$i}""", i % 2)) // partitions 0,1 only
      .toDF("metadata", "partition")
    val ranges = topic.producer().produce(sparse)
    assert(ranges.keySet == Set(0, 1))
    assert(ranges(0) == (0L, 15L) && ranges(1) == (0L, 15L))
    assert(d.catalog.nextIds("mytopic").filter(_._2 > 0) == Map(0 -> 15L, 1 -> 15L))
    val empty = topic.producer().produce(
      Seq.empty[(String, Int)].toDF("metadata", "partition"))
    assert(empty.isEmpty)
    assert(d.catalog.nextIds("mytopic").filter(_._2 > 0) == Map(0 -> 15L, 1 -> 15L))
    // a follow-up batch continues dense from the watermark on every partition
    val next = (0 until 8).map(i => (s"""{"j":$i}""", i % 4)).toDF("metadata", "partition")
    val r2 = topic.producer().produce(next)
    assert(r2(0) == (15L, 2L) && r2(1) == (15L, 2L))
    assert(r2(2) == (0L, 2L) && r2(3) == (0L, 2L))
    assert(topic.events().count() == 38L)
  }

  test("explicit __order column assigns the same ids as a globally sorted batch") {
    // r17 optimization: a caller with a natural order key passes the batch
    // UNSORTED plus `__order`, and produce() orders the per-partition id
    // window by it — the id↔row mapping must be IDENTICAL to sorting the
    // batch and relying on input row order, and `__order` must never leak
    // into the log.
    import spark.implicits._
    val rows = (0 until 120).map(i => (s"""{"k":$i}""", i % 3, i.toLong))
    val (_, sortedTopic) = newTopic(partitions = 3)
    sortedTopic.producer().produce(
      rows.sortBy(_._3).toDF("metadata", "partition", "ignored")
        .drop("ignored"))
    val (_, unsortedTopic) = newTopic(partitions = 3)
    unsortedTopic.producer().produce(
      scala.util.Random.shuffle(rows).toDF("metadata", "partition", "__order"))
    def snapshot(t: graft.engine.TopicHandle) = t.events()
      .select(col("partition"), col("event_id"),
        get_json_object(col("metadata"), "$.k").cast("long").as("k"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(snapshot(sortedTopic) == snapshot(unsortedTopic))
    assert(!unsortedTopic.events().columns.contains("__order"))
  }

  test("push() and produce() route the same metadata key to the same partition") {
    val d = new GraftDriver(spark, Files.createTempDirectory("graft-pc-spec").toString)
    d.createTopic("colocated", partitions = 8,
      selector = PartitionSelector.MetadataHash("$.key"))
    val topic = d.openTopic("colocated")
    // half the keys through the buffered push surface ...
    val producer = topic.producer()
    (0 until 20).foreach(i => producer.push(s"""{"key":"user${i % 10}","via":"push"}"""))
    producer.flush()
    // ... the other half through batch produce
    import spark.implicits._
    val df = (0 until 20).map(i => s"""{"key":"user${i % 10}","via":"produce"}""").toDF("metadata")
    topic.producer().produce(df)
    // a key must live in exactly one partition regardless of API surface
    val spread = topic.events()
      .select(get_json_object(col("metadata"), "$.key").as("k"), col("partition"))
      .groupBy("k").agg(countDistinct(col("partition")).as("nparts"))
      .collect()
    assert(spread.length == 10 && spread.forall(_.getLong(1) == 1L),
      spread.mkString(","))
  }

  test("FieldMod routing is identical across push() and produce(), including failures") {
    val d = new GraftDriver(spark, Files.createTempDirectory("graft-pc-spec").toString)
    d.createTopic("fieldmod", partitions = 4,
      selector = PartitionSelector.FieldMod("$.k"))
    val topic = d.openTopic("fieldmod")
    // valid, missing, and malformed keys — the same mix through BOTH surfaces
    val rows = Seq(
      """{"k":7,"via":"a"}""", """{"k":10,"via":"a"}""", """{"k":-3,"via":"a"}""",
      """{"x":1,"via":"a"}""",          // missing field
      """{"k":"abc","via":"a"}""")     // non-numeric field
    val producer = topic.producer()
    rows.foreach(m => producer.push(m))  // must not throw on any row
    producer.flush()
    import spark.implicits._
    topic.producer().produce(
      rows.map(_.replace("\"a\"", "\"b\"")).toDF("metadata")) // must not throw
    // valid keys: exactly one partition per key across both surfaces, and it
    // is floorMod(k, 4)
    val placed = topic.events()
      .select(get_json_object(col("metadata"), "$.k").try_cast("long").as("k"),
        col("partition"))
      .filter(col("k").isNotNull)
      .collect().map(r => r.getLong(0) -> r.getInt(1))
    assert(placed.length == 6)
    placed.foreach { case (k, p) =>
      assert(p == math.floorMod(k, 4L).toInt, s"key $k landed on $p")
    }
    // the fallback rows landed SOMEWHERE (round-robin), nothing was dropped
    assert(topic.events().count() == 10)
  }

  test("eventbridge validator rejects invalid events at produce time") {
    val d = new GraftDriver(spark, Files.createTempDirectory("graft-pc-spec").toString)
    d.createTopic("validated",
      validator = Validator.EventBridgeValidator("""{"kind": ["good"]}"""))
    val topic = d.openTopic("validated")
    val producer = topic.producer()
    producer.push("""{"kind":"good","x":1}""")
    producer.flush() // fine
    producer.push("""{"kind":"bad","x":2}""")
    val e = intercept[Exception] { producer.flush() }
    assert(e.getMessage != null)
    // the good event is still there and ids stay dense for the next good push
    val p2 = topic.producer()
    val ok = p2.push("""{"kind":"good","x":3}""")
    p2.flush()
    assert(ok.eventId == 1L)
  }

  test("schema validator: invalid doc rejected, valid doc exposes typed struct") {
    val d = new GraftDriver(spark, Files.createTempDirectory("graft-pc-spec").toString)
    val schema =
      """{"type":"object",
        | "properties":{"name":{"type":"string"},"x":{"type":"integer"}},
        | "required":["name","x"]}""".stripMargin
    d.createTopic("schematopic", validator = Validator.SchemaValidator(schema))
    val topic = d.openTopic("schematopic")
    val producer = topic.producer()
    producer.push("""{"name":"bob","x":42}""")
    producer.flush()
    producer.push("""{"name":"eve"}""") // missing required x
    intercept[Exception] { producer.flush() }

    val typed = topic.typedMetadata(topic.events())
      .select(col("metadata_typed.name"), col("metadata_typed.x"))
      .collect()
    assert(typed.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("bob", 42L)))
  }

  test("metadata-hash selector routes equal keys to equal partitions") {
    val d = new GraftDriver(spark, Files.createTempDirectory("graft-pc-spec").toString)
    d.createTopic("hashed", partitions = 4,
      selector = PartitionSelector.MetadataHash("$.key"))
    val topic = d.openTopic("hashed")
    import spark.implicits._
    val df = (0 until 100).map(i => s"""{"key":"user${i % 10}","i":$i}""").toDF("metadata")
    topic.producer().produce(df)
    // every key lands in exactly one partition
    val spread = topic.events()
      .select(get_json_object(col("metadata"), "$.key").as("k"), col("partition"))
      .groupBy("k").agg(countDistinct(col("partition")).as("nparts"))
      .collect()
    assert(spread.nonEmpty && spread.forall(_.getLong(1) == 1L))
  }

  test("fixed batchSize auto-flushes full buffers (S3 micro-batching)") {
    val (_, topic) = newTopic()
    val producer = topic.producer(batchSize = Some(10))
    val first = (0 until 10).map(i => producer.push(s"""{"i":$i}"""))
    // buffer hit the batch size → auto-flushed, ids already resolved
    assert(first.forall(_.isCompleted))
    assert(first.map(_.eventId) == (0L until 10L))
    val straggler = producer.push("""{"i":10}""")
    assert(!straggler.isCompleted)
    producer.flush()
    assert(straggler.eventId == 10L)
  }

  test("S10 recovery: next ids rebuild from the log when the watermark file is lost") {
    val (d, topic) = newTopic(partitions = 2)
    val producer = topic.producer()
    (0 until 20).foreach(i => producer.push(s"""{"i":$i}""", partition = Some(i % 2)))
    producer.flush()
    // simulate losing the commit watermark
    val ids = new org.apache.hadoop.fs.Path(d.catalog.topicPath("mytopic"), "_ids.json")
    ids.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(ids, false)
    assert(d.catalog.nextIds("mytopic") == Map(0 -> 10L, 1 -> 10L))
    // ids stay dense across the recovery
    val p2 = topic.producer()
    val e = p2.push("""{"i":99}""", partition = Some(0))
    p2.flush()
    assert(e.eventId == 10L)
  }

  test("chunk rotation: small chunkMaxRecords splits the log into bounded files") {
    val (d, topic) = newTopic()
    val producer = topic.producer(chunkMaxRecords = 10)
    (0 until 45).foreach(i => producer.push(s"""{"i":$i}"""))
    producer.flush()
    val dir = new org.apache.hadoop.fs.Path(d.catalog.logPath("mytopic"), "partition=0")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(dir).filter(_.getPath.getName.endsWith(".parquet"))
    assert(files.length >= 5, s"expected >=5 chunks of <=10 events, got ${files.length}")
    // the multi-chunk log reads back complete and dense
    val ids = topic.events().select("event_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (0L until 45L))
  }

  test("compaction collapses small chunks into bounded files, ids preserved") {
    val (d, topic) = newTopic()
    val producer = topic.producer(chunkMaxRecords = 10)
    (0 until 45).foreach(i => producer.push(s"""{"i":$i}""",
      s"payload-$i".getBytes(StandardCharsets.UTF_8)))
    producer.flush()
    val dir = new org.apache.hadoop.fs.Path(d.catalog.logPath("mytopic"), "partition=0")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def nFiles = fs.listStatus(dir).count(_.getPath.getName.endsWith(".parquet"))
    assert(nFiles >= 5)

    topic.compact(chunkMaxRecords = 100)
    assert(nFiles == 1, s"expected one compacted chunk, got $nFiles")
    // every event and id survives, payloads intact
    val rows = topic.events().orderBy(col("event_id")).collect()
    assert(rows.map(_.getAs[Long]("event_id")).toSeq == (0L until 45L))
    assert(new String(rows(7).getAs[Array[Byte]]("data"), StandardCharsets.UTF_8) == "payload-7")
    // id space continues densely after compaction
    val p2 = topic.producer()
    val e = p2.push("""{"i":45}""")
    p2.flush()
    assert(e.eventId == 45L)
    // cursored consumption is unaffected
    val c = topic.consumer("post-compact")
    val Pull.Next(first) = c.pull(): @unchecked
    assert(first.eventId == 0L)
  }

  test("resizeConsumerGroup migrates cursors to new owners; higher cursors never regress") {
    val (d, topic) = newTopic(partitions = 4)
    val p = topic.producer()
    (0 until 80).foreach(i => p.push(s"""{"i":$i}""", null))
    p.flush() // 20 events per partition (round-robin)
    // 2-member group: member 0 owns partitions 0,2; member 1 owns 1,3.
    // commit distinct progress per partition under the CURRENT owners
    Seq(0 -> 5L, 1 -> 7L, 2 -> 9L, 3 -> 11L).foreach { case (part, id) =>
      d.catalog.acknowledge("mytopic", s"g-${part % 2}", part, id)
    }
    // partition 3's FUTURE owner (g-0 under size 3) already holds a higher
    // cursor there — the migration must keep it (max wins)
    d.catalog.acknowledge("mytopic", "g-0", 3, 15L)
    val members = topic.resizeConsumerGroup("g", oldSize = 2, newSize = 3)
    // new ownership: p0→g-0, p1→g-1, p2→g-2, p3→g-0
    val views = members.zipWithIndex.map { case (c, i) =>
      i -> c.events().select("partition", "event_id").collect()
        .groupBy(_.getInt(0)).view
        .mapValues(_.map(_.getLong(1)).min).toMap
    }.toMap
    assert(views(0)(0) == 6L, "p0 stays with g-0 at its own cursor")
    assert(views(1)(1) == 8L, "p1 stays with g-1 at its own cursor")
    assert(views(2)(2) == 10L, "p2 migrated from g-0's cursor to g-2")
    assert(views(0)(3) == 16L, "p3: g-0's own higher cursor wins over g-1's")
    // disjoint ownership: nobody else sees p2/p3
    assert(!views(1).contains(2) && !views(2).contains(3))
  }

  test("mirrorTo copies incrementally, preserves order, and is idle-safe") {
    val d = new GraftDriver(spark, Files.createTempDirectory("graft-pc-spec").toString)
    d.createTopic("src", partitions = 2)
    d.createTopic("dst", partitions = 2)
    val src = d.openTopic("src")
    val dst = d.openTopic("dst")
    val p1 = src.producer()
    (0 until 20).foreach(i => p1.push(s"""{"i":$i}""",
      s"d-$i".getBytes(StandardCharsets.UTF_8)))
    p1.flush()
    val r1 = src.mirrorTo(dst)
    assert(r1.values.map(_._2).sum == 20L)
    // second round: only the delta is copied
    val p2 = src.producer()
    (20 until 30).foreach(i => p2.push(s"""{"i":$i}"""))
    p2.flush()
    val r2 = src.mirrorTo(dst)
    assert(r2.values.map(_._2).sum == 10L)
    // target: same per-partition payload sequence as the source, ids dense
    val key = get_json_object(col("metadata"), "$.i").cast("long")
    def seqOf(t: TopicHandle) = t.events()
      .select(col("partition"), col("event_id"), key.as("i"))
      .orderBy(col("partition"), col("event_id")).collect()
      .groupBy(_.getInt(0)).view.mapValues(_.map(_.getLong(2)).toSeq).toMap
    assert(seqOf(dst) == seqOf(src))
    assert(dst.events().filter(col("event_id") === 3 && col("partition") === 0)
      .head.getAs[Array[Byte]]("data") != null)
    // idle mirror copies nothing
    assert(src.mirrorTo(dst).values.map(_._2).sum == 0L)
  }

  test("produceWithDlq routes rejects to the DLQ wrapped verbatim; valid rows land normally") {
    val d = new GraftDriver(spark, Files.createTempDirectory("graft-pc-spec").toString)
    d.createTopic("strict", partitions = 1, validator = Validator.SchemaValidator(
      """{"type":"object","required":["k"],"properties":{"k":{"type":"integer"}}}"""))
    val topic = d.openTopic("strict")
    import spark.implicits._
    val batch = Seq(
      ("""{"k":1}""", "good-1"),
      ("""{"k":"oops"}""", "bad-string"),   // wrong type
      ("""{"k":2}""", "good-2"),
      ("""{"nokey":true}""", "bad-missing") // required field absent
    ).toDF("metadata", "payload")
      .select(col("metadata"), encode(col("payload"), "UTF-8").as("data"))
    val (mainRes, dlqRes) = topic.produceWithDlq(batch)
    assert(mainRes(0)._2 == 2L && dlqRes(0)._2 == 2L)

    val mainRows = topic.events().orderBy("event_id").collect()
    assert(mainRows.map(r => new String(r.getAs[Array[Byte]]("data"), StandardCharsets.UTF_8))
      .toSeq == Seq("good-1", "good-2"))

    val dlqRows = d.openTopic("strict.dlq").events().orderBy("event_id").collect()
    assert(dlqRows.length == 2)
    // the rejected document survives VERBATIM inside the wrapper, reason-tagged
    val originals = d.openTopic("strict.dlq").events()
      .select(get_json_object(col("metadata"), "$.original").as("o"),
        get_json_object(col("metadata"), "$.reason").as("r"))
      .orderBy("o").collect()
    assert(originals.map(_.getString(0)).toSeq.sorted ==
      Seq("""{"k":"oops"}""", """{"nokey":true}""").sorted)
    assert(originals.forall(_.getString(1) == "validator"))
    // payloads ride along for replay
    assert(dlqRows.map(r => new String(r.getAs[Array[Byte]]("data"), StandardCharsets.UTF_8))
      .toSet == Set("bad-string", "bad-missing"))
    // a second DLQ produce APPENDS (the topic already exists)
    topic.produceWithDlq(Seq(("""{"k":"again"}""", "bad-2")).toDF("metadata", "payload")
      .select(col("metadata"), encode(col("payload"), "UTF-8").as("data")))
    assert(d.openTopic("strict.dlq").events().count() == 3)
  }

  test("compactByKey keeps each key's latest version; null keys kept; tombstones only when asked") {
    val (d, topic) = newTopic()
    val producer = topic.producer()
    // 3 versions each of keys 0..4 (versions interleaved so "latest" is an
    // id property, not a file property); key 2's FINAL version is a
    // tombstone (empty payload); two keyless events must survive untouched
    (0 until 3).foreach { v =>
      (0 until 5).foreach { k =>
        val data = if (k == 2 && v == 2) Array.empty[Byte]
                   else s"k$k-v$v".getBytes(StandardCharsets.UTF_8)
        producer.push(s"""{"k":$k,"v":$v}""", data)
      }
    }
    producer.push("""{"unkeyed":1}""", "u1".getBytes(StandardCharsets.UTF_8))
    producer.push("""{"unkeyed":2}""", "u2".getBytes(StandardCharsets.UTF_8))
    producer.flush()
    val key = get_json_object(col("metadata"), "$.k").cast("long")

    // pass 1: no tombstone collection — 5 latest versions + 2 keyless rows;
    // the tombstone (empty payload) survives as key 2's latest value
    topic.compactByKey(key)
    val afterIds = topic.events().select("event_id").collect().map(_.getLong(0)).sorted
    assert(afterIds.toSeq == Seq(10L, 11L, 12L, 13L, 14L, 15L, 16L),
      s"latest versions are ids 10..14 (v=2 round) plus keyless 15,16: ${afterIds.toSeq}")
    val k2 = topic.events().filter(key === 2L).collect()
    assert(k2.length == 1 && k2.head.getAs[Array[Byte]]("data").isEmpty)

    // pass 2: tombstone collection deletes key 2 entirely; keyless rows stay
    topic.compactByKey(key, dropTombstones = true)
    val kept = topic.events()
      .select(key.as("k"), col("event_id"), col("data")).collect()
    assert(kept.count(_.isNullAt(0)) == 2, "keyless events must never be compacted away")
    val keyRows = kept.filterNot(_.isNullAt(0)).map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(keyRows == Map(0L -> 10L, 1L -> 11L, 3L -> 13L, 4L -> 14L),
      s"key 2 tombstone-collected, others keep their latest-version ids: $keyRows")
    // payloads are the v=2 values
    val v4 = topic.events().filter(key === 4L).head.getAs[Array[Byte]]("data")
    assert(new String(v4, StandardCharsets.UTF_8) == "k4-v2")
    // watermark untouched: next produce continues the id sequence
    val p2 = topic.producer()
    val e = p2.push("""{"k":9}""")
    p2.flush()
    assert(e.eventId == 17L)
  }

  test("expire drops ids below the cutoff; watermark and later produces intact") {
    val (d, topic) = newTopic(partitions = 2)
    val producer = topic.producer()
    (0 until 40).foreach(i => producer.push(s"""{"i":$i}""",
      s"p-$i".getBytes(StandardCharsets.UTF_8)))
    producer.flush()
    // 40 pushes round-robin over 2 partitions → ids 0..19 in each
    topic.expire(beforeId = 15L)
    val rows = topic.events().select("partition", "event_id").collect()
      .map(r => (r.getAs[Int]("partition"), r.getAs[Long]("event_id")))
    assert(rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap ==
      Map(0 -> (15L until 20L), 1 -> (15L until 20L)))
    // payloads of retained events intact
    val kept = topic.events().filter(col("event_id") === 17L)
      .orderBy(col("partition")).collect()
    assert(kept.forall(r => new String(
      r.getAs[Array[Byte]]("data"), StandardCharsets.UTF_8).startsWith("p-")))
    // watermark untouched: next produce continues the id sequence
    val p2 = topic.producer()
    val e = p2.push("""{"i":99}""")
    p2.flush()
    assert(e.eventId == 20L)
    // a consumer whose cursor predates the cutoff resumes at earliest retained
    val c = topic.consumer("late")
    val Pull.Next(first) = c.pull(): @unchecked
    assert(first.eventId == 15L)
    // expiring everything leaves an empty-but-usable topic
    topic.expire(beforeId = 1000L)
    assert(topic.events().count() == 0L)
    val p3 = topic.producer()
    val e3 = p3.push("""{"i":100}""")
    p3.flush()
    assert(e3.eventId == 21L)
  }

  test("snapshot pins an immutable prefix; events(asOf) re-reads it exactly") {
    val (_, topic) = newTopic(partitions = 2)
    val p1 = topic.producer()
    (0 until 10).foreach(i => p1.push(s"""{"i":$i}"""))
    p1.flush()
    val snap = topic.snapshot()
    assert(snap == Map(0 -> 5L, 1 -> 5L))
    val before = topic.events(snap).select("partition", "event_id").collect()
      .map(r => (r.getAs[Int]("partition"), r.getAs[Long]("event_id"))).toSet
    // later produces must not change what the snapshot sees
    val p2 = topic.producer()
    (10 until 30).foreach(i => p2.push(s"""{"i":$i}"""))
    p2.flush()
    val after = topic.events(snap).select("partition", "event_id").collect()
      .map(r => (r.getAs[Int]("partition"), r.getAs[Long]("event_id"))).toSet
    assert(before == after)
    assert(after == (for (p <- 0 to 1; i <- 0L until 5L) yield (p, i)).toSet)
    assert(topic.events().count() == 30L)
    // a partition added after the pin is invisible to the snapshot
    topic.catalog.addPartition(topic.name)
    val p3 = topic.producer()
    (0 until 6).foreach(i => p3.push(s"""{"j":$i}""", partition = Some(2)))
    p3.flush()
    assert(topic.events(snap).count() == 10L)
    // incremental export: the diff between two pins is exactly what landed
    // between them — including the whole post-pin partition — and the
    // degenerate (empty, snap) diff equals the plain pinned read
    val snap2 = topic.snapshot()
    val diff = topic.events(snap, snap2)
      .select("partition", "event_id").collect()
      .map(r => (r.getAs[Int]("partition"), r.getAs[Long]("event_id"))).toSet
    val expected = (for (p <- 0 to 1; i <- 5L until 15L) yield (p, i)).toSet ++
      (0L until 6L).map(i => (2, i))
    assert(diff == expected)
    assert(topic.events(Map.empty[Int, Long], snap).count() == 10L)
  }

  test("deleteWhere purges matching events; gaps tolerated, watermark intact") {
    val (_, topic) = newTopic(partitions = 1)
    val producer = topic.producer()
    (0 until 20).foreach(i => producer.push(s"""{"u":${i % 4}}"""))
    producer.flush()
    // forget user 2: every 4th id vanishes (ids 2, 6, 10, ...)
    topic.deleteWhere(get_json_object(col("metadata"), "$.u") === "2")
    val ids = topic.events().orderBy(col("event_id"))
      .collect().map(_.getAs[Long]("event_id")).toSeq
    assert(ids == (0L until 20L).filter(_ % 4 != 2))
    // consumption walks the gapped sequence without stalling
    val c = topic.consumer("post-purge")
    val got = Iterator.continually(c.pull()).takeWhile {
      case Pull.Next(_) => true
      case _ => false
    }.collect { case Pull.Next(e) => e.eventId }.toSeq
    assert(got == ids)
    // watermark untouched: next id continues past the purged tail
    val p2 = topic.producer()
    val e = p2.push("""{"u":9}""")
    p2.flush()
    assert(e.eventId == 20L)
  }

  test("deleteWhere with a NULL-valued predicate keeps the NULL rows") {
    val (_, topic) = newTopic(partitions = 1)
    val producer = topic.producer()
    // ids 0-9 carry {"u":i}; ids 10-19 LACK the field entirely, so
    // get_json_object returns NULL there — under three-valued logic
    // !cond is NULL too, and a naive filter(!cond) would DELETE them
    (0 until 10).foreach(i => producer.push(s"""{"u":$i}"""))
    (0 until 10).foreach(i => producer.push(s"""{"v":$i}"""))
    producer.flush()
    topic.deleteWhere(get_json_object(col("metadata"), "$.u") === "3")
    val ids = topic.events().orderBy(col("event_id"))
      .collect().map(_.getAs[Long]("event_id")).toSeq
    // only the definitively-matching row (id 3) is gone; every row where
    // the predicate is NULL (10-19) survives
    assert(ids == (0L until 20L).filterNot(_ == 3L))
  }

  test("a second producer process is rejected while a produce is in flight") {
    val (d, topic) = newTopic(partitions = 1)
    val producer = topic.producer()
    (0 until 5).foreach(i => producer.push(s"""{"i":$i}"""))
    producer.flush()
    // a second catalog over the SAME warehouse = another producer process;
    // its held lock must reject this producer's produce, loudly
    val d2 = new GraftDriver(spark, d.warehouse)
    d2.catalog.acquireProduceLock("mytopic")
    val e = intercept[IllegalStateException] {
      (0 until 5).foreach(i => producer.push(s"""{"j":$i}"""))
      producer.flush()
    }
    assert(e.getMessage.contains("another produce is already in progress"))
    // compaction is refused under a live produce too
    val e2 = intercept[IllegalStateException] { d.catalog.compactTopic("mytopic") }
    assert(e2.getMessage.contains("cannot compact while a produce is in flight"))
    d2.catalog.releaseProduceLock("mytopic")
    // a failed flush keeps its buffer; after release the SAME batch goes
    // through and ids continue densely
    producer.flush()
    assert(topic.events().count() == 10L)
    val ids = topic.events().orderBy(col("event_id"))
      .collect().map(_.getAs[Long]("event_id")).toSeq
    assert(ids == (0L until 10L))
  }

  test("two catalogs racing produce on one topic: log and watermark stay consistent") {
    val (d, topic) = newTopic(partitions = 1)
    val d2 = new GraftDriver(spark, d.warehouse)
    val topic2 = d2.openTopic("mytopic")
    import spark.implicits._
    // two producer processes race 10 produces each; the lock serializes or
    // rejects — either way the surviving log must have DENSE UNIQUE ids and
    // a watermark equal to the number of committed events
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Long]]()
    val threads = Seq(topic, topic2).zipWithIndex.map { case (t, ti) =>
      new Thread(() => {
        val pr = t.producer()
        (0 until 10).foreach { i =>
          try {
            val r = pr.produce(Seq(s"""{"t":$ti,"i":$i}""").toDF("metadata"))
            results.add(Right(r.values.map(_._2).sum))
          } catch { case e: IllegalStateException => results.add(Left(e)) }
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(300000))
    import scala.jdk.CollectionConverters._
    val committed = results.asScala.collect { case Right(n) => n }.sum
    val rejected = results.asScala.collect { case Left(e) => e }
    // every rejection is the loud lock error, nothing else
    rejected.foreach(e =>
      assert(e.getMessage.contains("another produce is already in progress"), e.getMessage))
    val ids = topic.events().orderBy(col("event_id"))
      .collect().map(_.getAs[Long]("event_id")).toSeq
    assert(ids == (0L until committed), s"ids must be dense 0..$committed: $ids")
    assert(d.catalog.nextIds("mytopic")(0) == committed)
  }

  test("ProduceLockWaitMs > 0: racing producers serialize — every produce lands") {
    val (d, topic) = newTopic(partitions = 1)
    val d2 = new GraftDriver(spark, d.warehouse)
    val topic2 = d2.openTopic("mytopic")
    import spark.implicits._
    // catalog-scoped on BOTH catalogs (two drivers, one warehouse) — the
    // JVM-global var default stays untouched
    d.catalog.setConfOverride("spark.graft.produce.lockWaitMs", "120000")
    d2.catalog.setConfOverride("spark.graft.produce.lockWaitMs", "120000")
    try {
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = Seq(topic, topic2).zipWithIndex.map { case (t, ti) =>
        new Thread(() => {
          val pr = t.producer()
          (0 until 5).foreach { i =>
            try pr.produce(Seq(s"""{"t":$ti,"i":$i}""").toDF("metadata")): Unit
            catch { case e: Throwable => failures.add(e) }
          }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join(300000))
      import scala.jdk.CollectionConverters._
      assert(failures.asScala.isEmpty, failures.asScala.map(_.getMessage))
      // cooperative waiting = the reference's write-queue behavior: all 10
      // produces commit, ids dense across both writers
      val ids = topic.events().orderBy(col("event_id"))
        .collect().map(_.getAs[Long]("event_id")).toSeq
      assert(ids == (0L until 10L), s"ids must be dense 0..10: $ids")
      assert(d.catalog.nextIds("mytopic")(0) == 10L)
    } finally {
      d.catalog.clearConfOverride("spark.graft.produce.lockWaitMs")
      d2.catalog.clearConfOverride("spark.graft.produce.lockWaitMs")
    }
  }

  test("produce during a live compaction fails loudly; stale locks are reclaimed") {
    val (d, topic) = newTopic(partitions = 2)
    val producer = topic.producer()
    (0 until 10).foreach(i => producer.push(s"""{"i":$i}"""))
    producer.flush()
    // simulate an in-progress compaction holding the topic
    d.catalog.acquireCompactLock("mytopic")
    val e = intercept[IllegalStateException] {
      (0 until 5).foreach(i => producer.push(s"""{"j":$i}"""))
      producer.flush()
    }
    assert(e.getMessage.contains("compaction is in progress"))
    // a second compactor is refused too
    intercept[IllegalStateException] { d.catalog.acquireCompactLock("mytopic") }
    d.catalog.releaseCompactLock("mytopic")
    // released → produce works again, ids continue densely
    producer.flush()
    assert(topic.events().count() == 15)
    // stale lock (crashed compactor): reclaimed instead of blocking forever.
    // Same-JVM arbitration is owner-thread-LIVENESS based, so the "crash"
    // is a thread that acquired and died without releasing; the file half
    // is aged out by compressing the staleness horizon.
    val prev = Catalog.CompactLockStaleMs
    try {
      val crashed = new Thread(() => d.catalog.acquireCompactLock("mytopic"))
      crashed.start(); crashed.join(60000)
      assert(!crashed.isAlive)
      // a LIVE same-JVM holder would reject a contender regardless of age;
      // a dead one must not block the topic forever
      Catalog.CompactLockStaleMs = 0L
      (0 until 2).foreach(i => producer.push(s"""{"k":$i}"""))
      producer.flush() // stale lock ignored
      topic.compact()  // dead owner's entry + stale file both reclaimed
      assert(topic.events().count() == 17)
    } finally {
      Catalog.CompactLockStaleMs = prev
      d.catalog.releaseCompactLock("mytopic")
    }
  }

  test("expireOlderThan keeps a contiguous suffix even with out-of-order timestamps") {
    val (d, topic) = newTopic(partitions = 1)
    val producer = topic.producer()
    // ts sequence 10,20,5,30,4,40: the first event at/past cutoff 25 is id
    // 3 — ids 0-2 drop, ids 3-5 survive INCLUDING id 4 whose ts (4) is
    // older than the cutoff: retention trims a PREFIX, it never punches
    // holes in the retained suffix (that's deleteWhere's semantic)
    Seq(10, 20, 5, 30, 4, 40).zipWithIndex.foreach { case (ts, i) =>
      producer.push(s"""{"i":$i,"ts":$ts}""")
    }
    producer.flush()
    topic.expireOlderThan(
      get_json_object(col("metadata"), "$.ts").cast("long"), lit(25L))
    val ids = topic.events().orderBy(col("event_id"))
      .collect().map(_.getAs[Long]("event_id")).toSeq
    assert(ids == Seq(3L, 4L, 5L))
    // a cutoff past every timestamp empties the partition — but the
    // produce watermark survives, so new events continue the id sequence
    topic.expireOlderThan(
      get_json_object(col("metadata"), "$.ts").cast("long"), lit(1000L))
    assert(topic.events().count() == 0L)
    assert(d.catalog.nextIds("mytopic")(0) == 6L)
    producer.push("""{"i":6,"ts":50}"""); producer.flush()
    assert(topic.events().select("event_id").collect().map(_.getLong(0)).toSeq == Seq(6L))
  }

  test("vacuum restores a crashed compactor's moved-aside log before collecting") {
    val (d, topic) = newTopic(partitions = 1)
    val producer = topic.producer()
    (0 until 10).foreach(i => producer.push(s"""{"i":$i}"""))
    producer.flush()
    val hfs = d.catalog.topicPath("mytopic")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val log = new org.apache.hadoop.fs.Path(d.catalog.logPath("mytopic"))
    val old = new org.apache.hadoop.fs.Path(d.catalog.topicPath("mytopic"), "log.compact.old")
    // simulate a compactor that died between its two renames: the
    // moved-aside copy is the ONLY copy of the data
    assert(hfs.rename(log, old))
    val rep = topic.vacuum()
    // the log is back, data intact — and the leftover `old` was collected
    assert(topic.events().count() == 10L)
    assert(!hfs.exists(old))
    assert(rep.swapLeftovers == 0, "a restored-then-renamed old is not debris")
    // a second vacuum on the now-clean topic is a no-op
    val rep2 = topic.vacuum()
    assert(rep2 == VacuumReport(0, 0, 0, 0L))
  }

  test("a live same-JVM lock holder is never reclaimed, no matter how old") {
    val (d, topic) = newTopic(partitions = 1)
    val producer = topic.producer()
    (0 until 3).foreach(i => producer.push(s"""{"i":$i}"""))
    producer.flush()
    // this (live) thread holds the compact lock; even with the staleness
    // horizon at zero, a second compactor must NOT steal it — same-JVM
    // contention is decided by owner liveness, not age
    val prev = Catalog.CompactLockStaleMs
    d.catalog.acquireCompactLock("mytopic")
    try {
      Catalog.CompactLockStaleMs = 0L
      val contender = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val t = new Thread(() => {
        try d.catalog.acquireCompactLock("mytopic")
        catch { case e: Throwable => contender.set(e) }
      })
      t.start(); t.join(60000)
      assert(contender.get() != null &&
        contender.get().getMessage.contains("compaction is already in progress"))
    } finally {
      Catalog.CompactLockStaleMs = prev
      d.catalog.releaseCompactLock("mytopic")
    }
  }

  test("consumerGroup: disjoint ownership, exactly-once delivery across members") {
    val (d, topic) = newTopic(partitions = 4)
    val producer = topic.producer()
    (0 until 40).foreach(i => producer.push(s"""{"i":$i}""", partition = Some(i % 4)))
    producer.flush()
    topic.markAsComplete()
    val members = topic.consumerGroup("grp", 3)
    // pull-drain every member: the multisets of (partition, id) must be
    // disjoint and union to the full log
    val seen = members.map { c =>
      Iterator.continually(c.pull())
        .takeWhile { case Pull.Next(_) => true; case _ => false }
        .collect { case Pull.Next(e) => (e.partition, e.eventId) }.toSet
    }
    assert(seen(0).map(_._1).subsetOf(Set(0, 3)) &&
      seen(1).map(_._1) == Set(1) && seen(2).map(_._1) == Set(2))
    assert(seen.map(_.size).sum == 40 &&
      seen.reduce(_ ++ _).size == 40, "exactly-once across the group")
    // oversized groups are refused, not silently double-delivered
    val e = intercept[IllegalArgumentException] { topic.consumerGroup("big", 5) }
    assert(e.getMessage.contains("exceeds the topic's"))
  }

  test("seekToTime repositions cursors in both directions; empty partitions seek to the watermark") {
    val (d, topic) = newTopic(partitions = 1)
    val producer = topic.producer()
    // ts 10,20,30,40,50 at ids 0-4
    (0 until 5).foreach(i => producer.push(s"""{"i":$i,"ts":${(i + 1) * 10}}"""))
    producer.flush()
    val ts = get_json_object(col("metadata"), "$.ts").cast("long")
    // a consumer acked to the end: seek must move it BACK to ts >= 30 (id 2)
    d.catalog.acknowledge("mytopic", "c1", 0, 4L)
    assert(topic.seekToTime("c1", ts, lit(30L)) == Map(0 -> 2L))
    val seen = topic.consumer("c1").events()
      .orderBy(col("event_id")).collect().map(_.getAs[Long]("event_id")).toSeq
    assert(seen == Seq(2L, 3L, 4L))
    // cutoff past every event: seek to the watermark — nothing to re-read
    assert(topic.seekToTime("c1", ts, lit(1000L)) == Map(0 -> 5L))
    assert(topic.consumer("c1").events().count() == 0L)
    // ...but a later produce IS visible from there (watermark, not +inf)
    producer.push("""{"i":5,"ts":60}"""); producer.flush()
    assert(topic.consumer("c1").events().count() == 1L)
  }

  test("the heartbeat refreshes a held lock file's mtime while the owner runs") {
    val prev = Catalog.CompactLockStaleMs
    try {
      Catalog.CompactLockStaleMs = 3000L // heartbeat period = max(1s, horizon/3)
      val (d, _) = newTopic(partitions = 1)
      d.catalog.acquireCompactLock("mytopic")
      val lock = new org.apache.hadoop.fs.Path(
        d.catalog.topicPath("mytopic"), "_compact.lock")
      val hfs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val t0 = hfs.getFileStatus(lock).getModificationTime
      Thread.sleep(2500) // ≥ 2 beats; without them the file would age out
      val t1 = hfs.getFileStatus(lock).getModificationTime
      assert(t1 > t0,
        "a held lock's mtime must advance — long operations would otherwise " +
        "be reclaimed as crashed by another process")
      d.catalog.releaseCompactLock("mytopic")
      assert(!hfs.exists(lock))
      Thread.sleep(1500) // a released lock's heartbeat must not resurrect it
      assert(!hfs.exists(lock))
    } finally Catalog.CompactLockStaleMs = prev
  }

  test("stale-lock reclamation is serialized through the claim file") {
    val (d, _) = newTopic(partitions = 1)
    val hfs = d.catalog.topicPath("mytopic")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(
      d.catalog.topicPath("mytopic"), "_produce.lock")
    val claim = new org.apache.hadoop.fs.Path(
      d.catalog.topicPath("mytopic"), "_produce.lock.reclaim")
    def mkStale(p: org.apache.hadoop.fs.Path): Unit = {
      val out = hfs.create(p, true)
      try out.write("crashed".getBytes) finally out.close()
      hfs.setTimes(p, System.currentTimeMillis() - 3600 * 1000L, -1)
    }
    val held = (_: Long) => "contended"
    // (a) two contenders racing reclamation of one stale lock: the claim
    // file arbitrates — exactly one proceeds, the loser throws. (The old
    // delete-based reclaim let the loser delete the winner's FRESH lock.)
    mkStale(lock)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val gate = new java.util.concurrent.CyclicBarrier(2)
    val ts = (0 until 2).map { _ =>
      new Thread(() => {
        gate.await()
        try d.catalog.reclaimStaleLock(lock, held)
        catch { case e: IllegalStateException => errs.add(e) }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join(60000))
    assert(errs.size <= 1, s"at most one loser: ${errs.size}")
    assert(!hfs.exists(lock), "the stale lock must be gone")
    assert(!hfs.exists(claim), "the claim must be cleaned up")
    // (b) a crashed RECLAIMER's stale claim: the next contender clears it
    // (failing loudly itself), and the attempt after that succeeds
    mkStale(lock); mkStale(claim)
    intercept[IllegalStateException] { d.catalog.reclaimStaleLock(lock, held) }
    assert(!hfs.exists(claim), "stale claim cleared for the next attempt")
    d.catalog.reclaimStaleLock(lock, held)
    assert(!hfs.exists(lock) && !hfs.exists(claim))
    // (c) a FRESH lock is never reclaimed: the under-claim re-check backs off
    val out = hfs.create(lock, true)
    try out.write("live".getBytes) finally out.close()
    intercept[IllegalStateException] { d.catalog.reclaimStaleLock(lock, held) }
    assert(hfs.exists(lock), "a live lock survives a reclamation attempt")
    hfs.delete(lock, false)
  }

  test("produce purges uncommitted chunks from a crashed predecessor (no duplicate ids)") {
    val (d, topic) = newTopic(partitions = 2)
    // all reads/writes through the Hadoop fs (the catalog's own view): raw
    // java.nio writes would leave the local ChecksumFileSystem's .crc
    // siblings stale and poison subsequent catalog reads
    val hfs = d.catalog.topicPath("mytopic")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val topicPath = d.catalog.topicPath("mytopic")
    val manDir = new org.apache.hadoop.fs.Path(topicPath, "_manifest")
    def read(p: org.apache.hadoop.fs.Path): Array[Byte] = {
      val in = hfs.open(p)
      try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    }
    def snapshotState(): Map[String, Array[Byte]] = {
      val ids = Map("_ids.json" ->
        read(new org.apache.hadoop.fs.Path(topicPath, "_ids.json")))
      val man =
        if (!hfs.exists(manDir)) Map.empty[String, Array[Byte]]
        else hfs.listStatus(manDir).filter(_.isFile)
          .map(st => s"_manifest/${st.getPath.getName}" -> read(st.getPath)).toMap
      ids ++ man
    }
    def restoreState(state: Map[String, Array[Byte]]): Unit = {
      if (hfs.exists(manDir))
        hfs.listStatus(manDir).filter(_.isFile)
          .foreach(st => hfs.delete(st.getPath, false))
      state.foreach { case (rel, bytes) =>
        val out = hfs.create(new org.apache.hadoop.fs.Path(topicPath, rel), true)
        try out.write(bytes) finally out.close()
      }
    }
    // committed batch 1
    val p1 = topic.producer()
    (0 until 10).foreach(i => p1.push(s"""{"a":$i}""")); p1.flush()
    val committed = snapshotState()
    // batch 2 "crashes" after its parquet write: roll the commit state back
    val p2 = topic.producer()
    (0 until 6).foreach(i => p2.push(s"""{"b":$i}""")); p2.flush()
    restoreState(committed)
    // batch 3 runs from a RESTARTED driver (fresh catalog caches — the
    // manifest cache keys on seqs, which a rollback rewinds): it must purge
    // batch 2's orphans, then reuse those ids cleanly
    val d3 = new GraftDriver(spark, d.warehouse)
    val topic3 = d3.openTopic("mytopic")
    val p3 = topic3.producer()
    (0 until 4).foreach(i => p3.push(s"""{"c":$i}""")); p3.flush()
    val rows = topic3.events()
      .groupBy(col("partition"))
      .agg(count(lit(1)).as("n"), countDistinct(col("event_id")).as("nd"),
        min(col("event_id")).as("lo"), max(col("event_id")).as("hi"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.map(_._2).sum == 14, s"10 committed + 4 new, orphans purged: ${rows.mkString}")
    rows.foreach { case (p, n, nd, lo, hi) =>
      assert(n == nd && lo == 0L && hi == n - 1, s"ids not dense on $p: ($n,$nd,$lo,$hi)")
    }
  }

  test("manifest log: produce-path metadata writes are O(new files); snapshots bound the dir") {
    val prevEvery = Catalog.ManifestSnapshotEvery
    Catalog.ManifestSnapshotEvery = 6
    try {
      val (d, topic) = newTopic(partitions = 1)
      val producer = topic.producer()
      import java.nio.file.{Files => JFiles, Paths => JPaths}
      import scala.jdk.CollectionConverters._
      val manDir = JPaths.get(d.warehouse, "mytopic", "_manifest")
      var deltaSizes = Vector.empty[Long]
      var dirCounts = Vector.empty[Int]
      (0 until 25).foreach { i =>
        producer.push(s"""{"i":$i}"""); producer.flush()
        // count only manifest entries — the local ChecksumFileSystem also
        // keeps hidden .crc siblings next to every file
        val entries = JFiles.list(manDir).iterator().asScala
          .filter(p => JFiles.isRegularFile(p) && p.getFileName.toString.endsWith(".json"))
          .toSeq
        dirCounts :+= entries.size
        deltaSizes = deltaSizes ++ entries
          .filter(_.getFileName.toString.startsWith("delta-")).map(JFiles.size(_))
      }
      // each produce appended ONE delta sized by ITS files (one chunk here) —
      // never by the ~25 accumulated live files; a growing per-produce
      // manifest rewrite is the O(total files) regression this log removes
      assert(deltaSizes.nonEmpty && deltaSizes.max <= 400,
        s"delta files must stay O(new files): max ${deltaSizes.max} bytes")
      // the snapshot roll keeps the log directory bounded
      assert(dirCounts.max <= Catalog.ManifestSnapshotEvery + 1,
        s"manifest dir must stay bounded: ${dirCounts.max} entries")
      // the assembled view is complete: every live chunk registered with its
      // real id range, watermark at the produce count
      val m = d.catalog.readManifest("mytopic").get
      assert(m.watermarks == Map(0 -> 25L))
      val diskFiles = JFiles.list(JPaths.get(d.warehouse, "mytopic", "log", "partition=0"))
        .iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
      assert(m.files(0).size == diskFiles)
      assert(m.files(0).map(_.lo).min == 0L && m.files(0).map(_.hi).max == 24L)
    } finally Catalog.ManifestSnapshotEvery = prevEvery
  }

  test("consumer batchSize bounds each feed; pull still drains everything") {
    val (_, topic) = newTopic()
    produce100(topic)
    topic.markAsComplete()
    val c = topic.consumer("bounded", batchSize = Some(7))
    val ids = Iterator.continually(c.pull())
      .takeWhile(_ != Pull.NoMoreEvents)
      .collect { case Pull.Next(e) => e.eventId }.toSeq
    assert(ids == (0L until 100L))
  }

  test("consumer partition targeting prunes to the requested partitions") {
    val (_, topic) = newTopic(partitions = 4)
    val producer = topic.producer()
    (0 until 40).foreach(i => producer.push(s"""{"i":$i}""", partition = Some(i % 4)))
    producer.flush()
    val c = topic.consumer("targeted", targets = Seq(1, 3))
    val parts = c.events().select(col("partition")).distinct()
      .collect().map(_.getInt(0)).toSet
    assert(parts == Set(1, 3))
  }

  test("a crashed metadata replace stays readable (tmp is authoritative)") {
    val (d, topic) = newTopic()
    val producer = topic.producer()
    (0 until 10).foreach(i => producer.push(s"""{"i":$i}"""))
    producer.flush()
    d.catalog.acknowledge("mytopic", "crashy", 0, 7L)
    assert(d.catalog.cursor("mytopic", "crashy") == Map(0 -> 8L))
    // simulate a writer dead inside writeAtomic's delete->rename window:
    // the destination is gone, the COMPLETE tmp remains
    val fs = new org.apache.hadoop.fs.Path(d.warehouse)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(d.warehouse, "mytopic"), "_cursors/crashy.json")
    val tmp = new org.apache.hadoop.fs.Path(cur.getParent, ".crashy.json.tmp")
    org.apache.hadoop.fs.FileUtil.copy(fs, cur, fs, tmp, false, true,
      spark.sparkContext.hadoopConfiguration)
    // age the tmp past the settled gate: a fresh tmp is treated as a LIVE
    // writer mid-first-write, not a crash
    fs.setTimes(tmp, System.currentTimeMillis() - 60000L, -1)
    assert(fs.delete(cur, false))
    // the resilient reader serves the tmp: the committed cursor holds -
    // no re-delivery storm from a crash inside the window
    assert(d.catalog.cursor("mytopic", "crashy") == Map(0 -> 8L))
    // and the next acknowledge writes through cleanly
    d.catalog.acknowledge("mytopic", "crashy", 0, 9L)
    assert(fs.exists(cur))
    assert(d.catalog.cursor("mytopic", "crashy") == Map(0 -> 10L))
  }

  test("crash between manifest and id-watermark commit never re-issues ids") {
    // The produce commit's two metadata writes (manifest first, _ids.json
    // second) have a crash window. The manifest write is the COMMIT POINT:
    // its files are visible, so the next write-path entry must heal the id
    // watermark FORWARD to the manifest's — a produce basing ids on the
    // stale _ids.json would re-issue the committed ids (duplicate rows).
    import spark.implicits._
    val (d, topic) = newTopic()
    topic.producer().produce(
      (0 until 10).map(i => (s"""{"i":$i}""", 0)).toDF("metadata", "partition"))
    val idsFile = new java.io.File(new org.apache.hadoop.fs.Path(
      d.catalog.topicPath("mytopic"), "_ids.json").toUri.getPath)
    val preSecond = java.nio.file.Files.readAllBytes(idsFile.toPath)
    topic.producer().produce(
      (10 until 20).map(i => (s"""{"i":$i}""", 0)).toDF("metadata", "partition"))
    // simulate the crash: rewind _ids.json to its pre-produce content
    // (manifest keeps the second produce's files + advanced watermark)
    java.nio.file.Files.write(idsFile.toPath, preSecond): Unit
    new java.io.File(idsFile.getParentFile, "._ids.json.crc").delete(): Unit
    assert(d.catalog.nextIds("mytopic") == Map(0 -> 10L)) // window is live
    // the next produce heals the watermark forward and appends AFTER the
    // committed rows — no duplicate ids, nothing lost
    topic.producer().produce(
      (20 until 30).map(i => (s"""{"i":$i}""", 0)).toDF("metadata", "partition"))
    val ev = topic.events()
    assert(ev.count() == 30)
    assert(ev.groupBy(col("event_id")).count().filter(col("count") > 1).count() == 0)
    assert(d.catalog.nextIds("mytopic") == Map(0 -> 30L))
  }
}
