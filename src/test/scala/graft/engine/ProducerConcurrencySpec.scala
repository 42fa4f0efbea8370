package graft.engine

import java.nio.file.Files
import java.util.concurrent.{Executors, TimeUnit}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/**
 * Concurrent multi-producer ingest (the reservation-intent protocol — see
 * Catalog's "concurrent produce intents" section): N producers commit to
 * one topic without serializing on the topic-level produce lock. The lock
 * covers only id reservation and the ordered commit; data writes run
 * unlocked into per-intent staging. These specs pin the protocol's
 * invariants with deterministic interleavings (catalog-level phases) plus
 * real-thread end-to-end runs.
 */
class ProducerConcurrencySpec extends SparkSpec {

  private def newTopic(partitions: Int = 2): (GraftDriver, TopicHandle) = {
    val d = new GraftDriver(spark, Files.createTempDirectory("graft-conc-spec").toString)
    d.createTopic("t", partitions = partitions)
    (d, d.openTopic("t"))
  }

  private def batch(tag: String, n: Int) = {
    import spark.implicits._
    (0 until n).map(i => (s"""{"tag":"$tag","i":$i}""", i % 2))
      .toDF("metadata", "partition")
  }

  /** Write `n` rows with explicit ids [first, first+n) on partition 0 into
    * an intent's staging dir — the deterministic stand-in for phase 2. */
  private def writeStaging(d: GraftDriver, intentId: String,
                           first: Long, n: Int, tag: String): Unit = {
    import spark.implicits._
    (0 until n).map(i => (0, first + i, s"""{"tag":"$tag"}""", null: Array[Byte]))
      .toDF("partition", "event_id", "metadata", "data")
      .coalesce(1).write.partitionBy("partition")
      .parquet(d.catalog.produceStagingDir("t", intentId).toString)
  }

  test("reservations stack; commits apply in reservation order") {
    val (d, _) = newTopic()
    val cat = d.catalog
    def reserve(n: Long): (String, Map[Int, Long]) = {
      cat.acquireProduceLock("t")
      try cat.reserveProduce("t", Map(0 -> n))
      finally cat.releaseProduceLock("t")
    }
    val (idA, firstA) = reserve(5)
    val (idB, firstB) = reserve(7)
    assert(firstA == Map(0 -> 0L))
    assert(firstB == Map(0 -> 5L), "B must reserve above A's live intent")
    // B's data is ready first — but its commit must WAIT for A (ordered)
    writeStaging(d, idB, 5L, 7, "b")
    val pool = Executors.newSingleThreadExecutor()
    val bCommit = pool.submit(new Runnable {
      override def run(): Unit =
        cat.commitProduceIntent("t", idB, firstB, Map(0 -> 7L),
          IntentTestOps.stagedChunks(d, "t", idB))
    })
    Thread.sleep(1500)
    assert(!bCommit.isDone, "B committed before its predecessor A")
    assert(cat.nextIds("t").getOrElse(0, 0L) == 0L)
    // A commits; B's pending commit then applies on its own
    writeStaging(d, idA, 0L, 5, "a")
    cat.commitProduceIntent("t", idA, firstA, Map(0 -> 5L),
      IntentTestOps.stagedChunks(d, "t", idA))
    bCommit.get(60, TimeUnit.SECONDS)
    pool.shutdown(): Unit
    assert(cat.nextIds("t") == Map(0 -> 12L, 1 -> 0L))
    val ev = d.openTopic("t").events()
    assert(ev.count() == 12)
    assert(ev.groupBy(col("event_id")).count().filter(col("count") > 1).count() == 0)
    assert(cat.listProduceIntents("t").isEmpty)
    assert(!cat.mayHaveIdGaps("t"), "an all-committed chain must stay gap-free")
  }

  test("a crashed predecessor rolls back at the blocked commit; gap-advance unwedges") {
    val (d, topic) = newTopic()
    val cat = d.catalog
    cat.acquireProduceLock("t")
    val (idA, _) = try cat.reserveProduce("t", Map(0 -> 5L))
      finally cat.releaseProduceLock("t")
    cat.acquireProduceLock("t")
    val (idB, firstB) = try cat.reserveProduce("t", Map(0 -> 4L))
      finally cat.releaseProduceLock("t")
    writeStaging(d, idB, 5L, 4, "b")
    // A dies: its intent lease goes stale (compressed horizon, scoped
    // to this spec's catalog)
    cat.setConfOverride("spark.graft.produce.intentTimeoutMs", "1")
    try {
      Thread.sleep(50)
      cat.commitProduceIntent("t", idB, firstB, Map(0 -> 4L),
        IntentTestOps.stagedChunks(d, "t", idB))
    } finally cat.clearConfOverride("spark.graft.produce.intentTimeoutMs")
    // B committed over the decided-dead gap [0,5): watermark jumped, gap
    // marked, A's debris fully reclaimed
    assert(cat.nextIds("t").getOrElse(0, 0L) == 9L)
    assert(cat.mayHaveIdGaps("t"))
    assert(cat.listProduceIntents("t").isEmpty)
    val ev = topic.events()
    assert(ev.count() == 4)
    assert(ev.agg(min(col("event_id"))).collect()(0).getLong(0) == 5L)
    // the rolled-back producer's late commit fails LOUDLY (no silent data)
    val e = intercept[IllegalStateException](
      cat.commitProduceIntent("t", idA, Map(0 -> 0L), Map(0 -> 5L),
        IntentTestOps.stagedChunks(d, "t", idA)))
    assert(e.getMessage.contains("rolled back"))
  }

  test("exclusive statements drain live intents; stale ones roll back at the gate") {
    val (d, topic) = newTopic()
    val cat = d.catalog
    cat.acquireProduceLock("t")
    val (_, _) = try cat.reserveProduce("t", Map(0 -> 5L))
      finally cat.releaseProduceLock("t")
    // a transactional statement cannot start while the intent is live
    cat.setConfOverride("spark.graft.produce.commitWaitMs", "300")
    try {
      val tx = topic.beginTransaction("tx")
      val e = intercept[LockConflictException](tx.produce(batch("x", 4)))
      assert(e.getMessage.contains("concurrent produces are in flight"))
    } finally cat.clearConfOverride("spark.graft.produce.commitWaitMs")
    // once the intent goes STALE, the draining gate rolls it back and the
    // statement proceeds
    cat.setConfOverride("spark.graft.produce.intentTimeoutMs", "1")
    try {
      Thread.sleep(50)
      val tx2 = topic.beginTransaction("tx2")
      tx2.produce(batch("y", 4))
      tx2.commit()
    } finally cat.clearConfOverride("spark.graft.produce.intentTimeoutMs")
    assert(cat.listProduceIntents("t").isEmpty)
    assert(topic.events("read_committed").count() == 4)
  }

  test("dropTopic and compaction refuse under live intents") {
    val (d, _) = newTopic()
    val cat = d.catalog
    cat.acquireProduceLock("t")
    try cat.reserveProduce("t", Map(0 -> 5L)): Unit
    finally cat.releaseProduceLock("t")
    val e1 = intercept[IllegalStateException](d.dropTopic("t"))
    assert(e1.getMessage.contains("concurrent produces are in flight"))
    val e2 = intercept[LockConflictException](cat.compactTopic("t"))
    assert(e2.getMessage.contains("concurrent produces"))
  }

  test("a commit crashed after its renames never resurrects through a later heal") {
    // Crash window: a committer renamed its staged files into the log,
    // then died before its manifest write. Once a successor gap-advances
    // past the rolled-back range, those files sit BELOW the watermark —
    // outside every purge signature — so the successor must purge them
    // inside its own commit, and the manifest adoption must exclude the
    // gap interval; otherwise a later legacy manifest heal (transactional
    // produce, rebuild) would adopt them and resurrect discarded rows.
    val (d, topic) = newTopic()
    val cat = d.catalog
    cat.acquireProduceLock("t")
    val (idA, _) = try cat.reserveProduce("t", Map(0 -> 5L))
      finally cat.releaseProduceLock("t")
    writeStaging(d, idA, 0L, 5, "dead")
    // simulate the crash: renames done (files in the log), manifest not
    // written, intent left behind
    val fs = new org.apache.hadoop.fs.Path(d.warehouse)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stagedP0 = new org.apache.hadoop.fs.Path(
      cat.produceStagingDir("t", idA), "partition=0")
    val logP0 = new org.apache.hadoop.fs.Path(cat.logPath("t"), "partition=0")
    fs.mkdirs(logP0)
    fs.listStatus(stagedP0).filter(_.getPath.getName.endsWith(".parquet"))
      .foreach { f =>
        assert(fs.rename(f.getPath, new org.apache.hadoop.fs.Path(logP0, f.getPath.getName)))
      }
    // successor commits over the now-stale predecessor
    cat.acquireProduceLock("t")
    val (idB, firstB) = try cat.reserveProduce("t", Map(0 -> 4L))
      finally cat.releaseProduceLock("t")
    writeStaging(d, idB, 5L, 4, "live")
    cat.setConfOverride("spark.graft.produce.intentTimeoutMs", "1")
    try {
      Thread.sleep(50)
      cat.commitProduceIntent("t", idB, firstB, Map(0 -> 4L),
        IntentTestOps.stagedChunks(d, "t", idB))
    } finally cat.clearConfOverride("spark.graft.produce.intentTimeoutMs")
    assert(topic.events().count() == 4)
    // a LEGACY manifest-heal path afterwards (transactional produce's
    // commit calls updateManifest with no gap exclusion) must find
    // nothing to adopt — the gap purge already deleted the orphans
    val tx = topic.beginTransaction("after")
    tx.produce(batch("after", 4)); tx.commit()
    val ev = topic.events()
    assert(ev.filter(col("event_id") < 5 && col("partition") === 0).count() == 0,
      "a crashed commit's renamed files resurrected through a heal")
    assert(ev.count() == 8)
  }

  test("an intent resurrected by a racing heartbeat cannot commit empty") {
    // touchProduceIntent's read-then-write can race a rollback and
    // re-create the intent file. A rollback deletes staging BEFORE the
    // intent, so "intent present, staging gone" proves the rollback won —
    // the commit must refuse loudly, never advance the watermark over
    // zero files.
    val (d, _) = newTopic()
    val cat = d.catalog
    cat.acquireProduceLock("t")
    val (idA, firstA) = try cat.reserveProduce("t", Map(0 -> 5L))
      finally cat.releaseProduceLock("t")
    writeStaging(d, idA, 0L, 5, "z")
    val intentFile = new java.io.File(new org.apache.hadoop.fs.Path(
      cat.topicPath("t"), s"_intents/$idA.json").toUri.getPath)
    val content = java.nio.file.Files.readAllBytes(intentFile.toPath)
    // janitor rolls the intent back...
    cat.acquireProduceLock("t")
    try cat.rollbackProduceIntentLocked("t", idA)
    finally cat.releaseProduceLock("t")
    // ...and the zombie heartbeat re-creates the record (staging stays gone)
    java.nio.file.Files.write(intentFile.toPath, content): Unit
    new java.io.File(intentFile.getParentFile, s".$idA.json.crc").delete(): Unit
    val e = intercept[IllegalStateException](
      cat.commitProduceIntent("t", idA, firstA, Map(0 -> 5L),
        IntentTestOps.stagedChunks(d, "t", idA)))
    assert(e.getMessage.contains("staging is gone"))
    assert(cat.nextIds("t").getOrElse(0, 0L) == 0L,
      "an empty zombie commit advanced the watermark")
  }

  test("the lease heartbeat bumps mtime in place and cannot resurrect") {
    val (d, _) = newTopic()
    val cat = d.catalog
    cat.acquireProduceLock("t")
    val (id, _) = try cat.reserveProduce("t", Map(0 -> 3L))
      finally cat.releaseProduceLock("t")
    val f = new java.io.File(new org.apache.hadoop.fs.Path(
      cat.topicPath("t"), s"_intents/$id.json").toUri.getPath)
    // backdate, touch: the lease must refresh WITHOUT a rewrite (the file
    // must never vanish from a concurrent listing mid-touch)
    assert(f.setLastModified(System.currentTimeMillis() - 120000L))
    val before = f.lastModified()
    cat.touchProduceIntent("t", id)
    assert(f.lastModified() > before, "touch did not refresh the lease")
    val listed = cat.listProduceIntents("t")
    assert(listed.map(_._1) == Seq(id) && listed.head._2.nonEmpty,
      "intent unreadable after an in-place touch")
    // touch after rollback must NOT bring the record back
    cat.acquireProduceLock("t")
    try cat.rollbackProduceIntentLocked("t", id)
    finally cat.releaseProduceLock("t")
    cat.touchProduceIntent("t", id)
    assert(cat.listProduceIntents("t").isEmpty,
      "a touch resurrected a rolled-back intent")
  }

  test("two real producers ingest one topic concurrently, out of the box") {
    // No ProduceLockWaitMs override: the brief-section patience floor is
    // what makes plain produce contention serialize by itself. Outcome
    // contract: dense per-partition ids, both payload sets complete.
    val (d, topic) = newTopic()
    val pool = Executors.newFixedThreadPool(2)
    val failed = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxInFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    val tasks = (0 until 2).map { w =>
      pool.submit(new Runnable {
        override def run(): Unit =
          try (0 until 3).foreach { b =>
            val cur = inFlight.incrementAndGet()
            maxInFlight.getAndUpdate(m => math.max(m, cur)): Unit
            try topic.producer().produce(batch(s"w$w-b$b", 40)): Unit
            finally inFlight.decrementAndGet(): Unit
          } catch { case t: Throwable => failed.compareAndSet(null, t): Unit }
      })
    }
    tasks.foreach(_.get(240, TimeUnit.SECONDS))
    pool.shutdown(): Unit
    if (failed.get() != null) throw failed.get()
    // both writers were genuinely in flight together at least once
    assert(maxInFlight.get() == 2, s"producers never overlapped")
    val ev = d.openTopic("t").events()
    assert(ev.count() == 240)
    val per = ev.groupBy(col("partition"))
      .agg(count(lit(1)).as("c"), countDistinct(col("event_id")).as("d"),
        min(col("event_id")).as("lo"), max(col("event_id")).as("hi"))
      .collect()
    per.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), "duplicate ids")
      assert(r.getLong(3) == 0L && r.getLong(4) == r.getLong(1) - 1, "ids not dense")
    }
    // every payload set arrived exactly once
    val tags = ev.groupBy(get_json_object(col("metadata"), "$.tag").as("tag"))
      .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tags.size == 6 && tags.values.forall(_ == 40L), tags.toString)
    assert(d.catalog.listProduceIntents("t").isEmpty)
    assert(!d.catalog.mayHaveIdGaps("t"))
  }
}
