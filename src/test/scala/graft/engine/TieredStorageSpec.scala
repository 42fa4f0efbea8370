package graft.engine

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/**
 * Tiered storage (Kafka tiered-storage analog): archiveBefore moves
 * committed cold chunk files out of the hot log; every read surface —
 * consumer view, streaming micro-batch source, indexed reads, id
 * recovery — must keep returning the exact same rows from hot ∪ cold.
 */
class TieredStorageSpec extends SparkSpec {

  private def newTopic(): (GraftDriver, TopicHandle) = {
    val d = new GraftDriver(spark, Files.createTempDirectory("graft-tier-spec").toString)
    d.createTopic("t", partitions = 2)
    (d, d.openTopic("t"))
  }

  private def batch(tag: String, n: Int) = {
    import spark.implicits._
    (0 until n).map(i => (s"""{"tag":"$tag","i":$i,"k":${i % 4}}""", i % 2))
      .toDF("metadata", "partition")
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Int, Long, String)] =
    df.select(col("partition"), col("event_id"), col("metadata"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSet

  test("archive moves cold files; events() is unchanged; produce continues") {
    val (d, topic) = newTopic()
    topic.producer().produce(batch("old", 20))
    val cutoff = d.catalog.nextIds("t").values.max // everything so far is cold
    topic.producer().produce(batch("mid", 10))
    val before = rows(topic.events())

    val report = topic.archiveBefore(cutoff)
    assert(report.filesMoved == 2 && report.bytesMoved > 0) // one chunk per partition
    assert(topic.tierState.exists(_.files.values.map(_.size).sum == 2))
    // the union view is byte-identical
    assert(rows(topic.events()) == before)
    // hot manifest no longer lists the moved files; cold files really moved
    val hotFiles = d.catalog.readManifest("t").get.files.values.map(_.size).sum
    assert(hotFiles == 2) // only the 'mid' produce's files remain hot
    // produce keeps working after archiving; ids stay dense
    topic.producer().produce(batch("new", 10))
    val all = topic.events()
    assert(all.count() == 40)
    val perPart = all.groupBy(col("partition"))
      .agg(count(lit(1)).as("c"), countDistinct(col("event_id")).as("d"),
        max(col("event_id")).as("m")).collect()
    perPart.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) && r.getLong(3) == r.getLong(1) - 1)
    }
  }

  test("archive is idempotent and incremental; restore un-tiers exactly") {
    val (d, topic) = newTopic()
    topic.producer().produce(batch("a", 12))
    val c1 = d.catalog.nextIds("t").values.max
    topic.producer().produce(batch("b", 12))
    val c2 = d.catalog.nextIds("t").values.max
    val before = rows(topic.events())

    assert(topic.archiveBefore(c1).filesMoved == 2)
    assert(topic.archiveBefore(c1).filesMoved == 0) // idempotent
    assert(topic.archiveBefore(c2).filesMoved == 2) // incremental second wave
    assert(rows(topic.events()) == before)

    // maintenance rewrites refuse while tiered
    intercept[IllegalStateException](topic.compact())
    intercept[IllegalStateException](topic.expire(2L))

    assert(topic.restoreArchive() == 4)
    assert(topic.tierState.isEmpty)
    assert(rows(topic.events()) == before)
    topic.compact() // allowed again after restore
    assert(rows(topic.events()) == before)
    assert(topic.restoreArchive() == 0)
  }

  test("id recovery and streaming drain read through the cold tier") {
    val (d, topic) = newTopic()
    topic.producer().produce(batch("a", 20))
    val wm = d.catalog.nextIds("t")
    topic.archiveBefore(wm.values.max) // ALL files now cold
    // lose the manifest log: recovery must see the cold rows or ids reuse
    val manifest = new org.apache.hadoop.fs.Path(d.catalog.topicPath("t"), "_manifest")
    manifest.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(manifest, true): Unit
    assert(d.catalog.nextIds("t") == wm)
    topic.producer().produce(batch("b", 10))
    assert(topic.events().count() == 30)

    // AvailableNow drain through the micro-batch source spans both tiers
    topic.markAsComplete()
    val out = Files.createTempDirectory("tier-sink").toString
    val q = spark.readStream.format("graft")
      .option("warehouse", d.warehouse).option("topic", "t").load()
      .writeStream.format("parquet")
      .option("path", s"$out/data").option("checkpointLocation", s"$out/cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(spark.read.parquet(s"$out/data").count() == 30)
  }

  test("parquet-backed tier state: planners prune the relation, restore still exact") {
    // force the driver threshold to 0 so the small fixture takes the exact
    // paths a cold tier holding most of a 100 TB topic would take
    spark.conf.set("spark.graft.manifest.driverMaxEntries", "0")
    try {
      val (d, topic) = newTopic()
      topic.producer().produce(batch("a", 12))
      val c1 = d.catalog.nextIds("t").values.max
      topic.producer().produce(batch("b", 12))
      val c2 = d.catalog.nextIds("t").values.max
      topic.producer().produce(batch("c", 12))
      val before = rows(topic.events())

      assert(topic.archiveBefore(c1).filesMoved == 2)
      val t1 = topic.tierState.get
      assert(t1.filesRef.isDefined, "tier file list must be parquet-backed")
      assert(t1.files.isEmpty, "tier JSON must not hold the file list")
      assert(d.catalog.tierFilesRel("t", t1).get.count() == 2)
      // a second archive wave UNIONS into the relation (no entries lost)
      assert(topic.archiveBefore(c2).filesMoved == 2)
      val t2 = topic.tierState.get
      assert(t2.filesRef.isDefined && t2.files.isEmpty)
      assert(d.catalog.tierFilesRel("t", t2).get.count() == 4)
      assert(t2.filesRef != t1.filesRef, "rolled relations are immutable-by-name")

      // every read surface still exact: batch union view + streaming slice
      assert(rows(topic.events()) == before)
      val slice = graft.streaming.GraftPartitions.plan(
        d.catalog, "t", targets = None, from = _ => 0L, until = _ => 6L)
      // ids [0,6) per partition live wholly in the FIRST archived wave:
      // relation pruning must keep 1 cold file per partition, not all 4
      slice.foreach { s =>
        val ip = s.asInstanceOf[graft.streaming.GraftInputPartition]
        assert(ip.files.size == 1, s"expected 1 overlapping cold file: ${ip.files}")
      }
      // a window straddling the cold/hot boundary, the hot manifest
      // relation-backed too: ids [9,15) per partition overlap the second
      // archived wave [6,12) and the hot chunk [12,18) — exactly those two
      // files plan, cold then hot, in id order
      assert(d.catalog.readManifest("t").get.filesRef.isDefined,
        "hot manifest must be parquet-backed")
      val straddle = graft.streaming.GraftPartitions.plan(
        d.catalog, "t", targets = None, from = _ => 9L, until = _ => 15L)
      assert(straddle.length == 2)
      val conf = spark.sparkContext.hadoopConfiguration
      straddle.foreach { s =>
        val ip = s.asInstanceOf[graft.streaming.GraftInputPartition]
        assert(ip.files.map(f => Catalog.fileIdRange(new org.apache.hadoop.fs.Path(f), conf)) ==
          Seq((6L, 11L), (12L, 17L)), ip.files)
        assert(ip.files.head.contains("/cold/") && ip.files(1).contains("/log/"), ip.files)
      }
      assert(topic.restoreArchive() == 4)
      assert(topic.tierState.isEmpty)
      assert(rows(topic.events()) == before)
    } finally spark.conf.unset("spark.graft.manifest.driverMaxEntries")
  }

  test("indexed reads union the cold tier conservatively") {
    val (d, topic) = newTopic()
    topic.producer().produce(batch("a", 24))
    topic.refreshIndex("k_idx", "$.k", MetadataIndex.Numeric)
    val expected = topic.events()
      .filter(get_json_object(col("metadata"), "$.k").cast("long") === 2).count()
    topic.archiveBefore(d.catalog.nextIds("t").values.max)
    topic.producer().produce(batch("b", 8))
    val expected2 = topic.events()
      .filter(get_json_object(col("metadata"), "$.k").cast("long") === 2).count()
    assert(expected2 > expected)
    // the index was built pre-archive; the read must still see every row
    assert(topic.eventsIndexed("k_idx", 2.0, 2.0).count() == expected2)
  }

  test("archive and restore are crash-resumable (half-done moves heal)") {
    val (d, topic) = newTopic()
    topic.producer().produce(batch("old", 20))
    val cutoff = d.catalog.nextIds("t").values.max
    topic.producer().produce(batch("mid", 10))
    val before = rows(topic.events())
    val fs = new org.apache.hadoop.fs.Path(d.warehouse)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    // simulate an archive that died after moving ONE file but before its
    // tier-state write: move a cold-eligible chunk by hand
    val m = d.catalog.readManifest("t").get
    val victim = m.files(0).minBy(_.lo) // partition 0's oldest chunk
    val logRoot = new org.apache.hadoop.fs.Path(d.catalog.logPath("t"))
    val src = new org.apache.hadoop.fs.Path(logRoot, victim.path)
    val coldRoot = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(d.warehouse, "t"), "cold")
    val dst = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(coldRoot, "partition=0"), src.getName)
    fs.mkdirs(dst.getParent)
    assert(fs.rename(src, dst))
    // the retry RESUMES: records the already-moved file, moves the rest,
    // and the read surface comes back byte-identical
    val report = topic.archiveBefore(cutoff)
    assert(report.filesMoved == 2, report)
    assert(rows(topic.events()) == before)

    // simulate a restore that died after bringing ONE file home
    val t2 = d.catalog.tierState("t").get
    val cold0 = t2.files(0).head
    val coldSrc = new org.apache.hadoop.fs.Path(cold0.path)
    val hotDst = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(logRoot, "partition=0"), coldSrc.getName)
    assert(fs.rename(coldSrc, hotDst))
    // the retry SKIPS the already-restored file instead of wedging
    assert(topic.restoreArchive() == 2)
    assert(d.catalog.tierState("t").isEmpty)
    assert(rows(topic.events()) == before)
    // fully un-tiered: maintenance rewrites allowed again
    topic.producer().produce(batch("new", 4))
    assert(topic.events().count() == 34)
  }

  test("tiered topic reclaims aborted-transaction debris via deletion vectors") {
    // Rewrites refuse on tiered topics, so the dead-debris reclaim must
    // not be a purgeTopic: aborted ranges convert to deletion vectors
    // (rows invisible everywhere immediately, zero chunk files touched),
    // then the records go — the read_committed exclusion set stays
    // bounded on exactly the topology that accumulates the most history.
    val (d, topic) = newTopic()
    def tagCounts(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.groupBy(get_json_object(col("metadata"), "$.tag").as("tag")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    topic.producer().produce(batch("plain", 8))
    val cutoff = d.catalog.nextIds("t").values.max
    assert(topic.archiveBefore(cutoff).filesMoved == 2)
    assert(d.catalog.isTiered("t"))
    val ok = topic.beginTransaction("ok"); ok.produce(batch("ok", 6)); ok.commit()
    val ab = topic.beginTransaction("ab"); ab.produce(batch("ab", 6)); ab.abort()
    val coldBefore = topic.tierState.map(_.files.values.map(_.size).sum).getOrElse(0)
    val hotBefore = d.catalog.readManifest("t").get.files.values.map(_.size).sum
    // the manual escape hatch WORKS on a tiered topic now (no failIfTiered)
    assert(topic.purgeAborted() == 1)
    // record gone (listing-counted); the committed record is permanent
    assert(d.catalog.listTxns("t").keySet == Set("ok"))
    // aborted rows invisible on EVERY surface — including read_uncommitted
    assert(tagCounts(topic.events("read_uncommitted")) ==
      Map("plain" -> 8L, "ok" -> 6L))
    assert(tagCounts(topic.events("read_committed")) ==
      Map("plain" -> 8L, "ok" -> 6L))
    // zero chunk files touched: cold inventory and hot file count unchanged
    assert(topic.tierState.map(_.files.values.map(_.size).sum)
      .getOrElse(0) == coldBefore)
    assert(d.catalog.readManifest("t").get.files.values
      .map(_.size).sum == hotBefore)
    // the reclaim is merge-on-read: vectors exist, exclusion set is empty
    assert(d.catalog.deleteVectorFiles("t").nonEmpty)
    assert(d.catalog.uncommittedTxnRanges("t").isEmpty)
    // the CRON path does the same once debris crosses the age/count gate
    val ab2 = topic.beginTransaction("ab2"); ab2.produce(batch("ab2", 4)); ab2.abort()
    spark.conf.set("spark.graft.txn.abortedRetainMs", "0")
    spark.conf.set("spark.graft.txn.maxAbortedRecords", "0")
    try d.catalog.maintainTopic("t"): Unit
    finally {
      spark.conf.unset("spark.graft.txn.abortedRetainMs")
      spark.conf.unset("spark.graft.txn.maxAbortedRecords")
    }
    assert(d.catalog.listTxns("t").keySet == Set("ok"))
    assert(tagCounts(topic.events("read_uncommitted")) ==
      Map("plain" -> 8L, "ok" -> 6L))
    // ids keep flowing; the union view stays consistent after reclaim
    topic.producer().produce(batch("new", 4))
    assert(topic.events().count() == 18)
  }

  test("archive never moves uncommitted orphans (watermark cap)") {
    val (d, topic) = newTopic()
    topic.producer().produce(batch("old", 20))
    // plant an orphan: a chunk file with ids ABOVE the committed watermark
    // (a produce dead between manifest and id commit), registered in the
    // manifest like the crash window leaves it
    val fs = new org.apache.hadoop.fs.Path(d.warehouse)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logRoot = new org.apache.hadoop.fs.Path(d.catalog.logPath("t"))
    val p0 = new org.apache.hadoop.fs.Path(logRoot, "partition=0")
    val wm = d.catalog.nextIds("t")(0)
    import spark.implicits._
    Seq((0, wm, """{"tag":"orphan"}"""))
      .toDF("partition", "event_id", "metadata")
      .withColumn("data", lit(null).cast("binary"))
      .coalesce(1).write.mode("append").parquet(p0.toString)
    // archive EVERYTHING: the orphan must stay out of the cold tier (and
    // be purged) - an archived orphan's ids would be re-issued hot and
    // the cold copy would duplicate them forever
    topic.archiveBefore(Long.MaxValue)
    val coldPaths = d.catalog.tierState("t").toSeq
      .flatMap(_.files.values.flatten).map(_.hi)
    assert(coldPaths.forall(_ < wm), s"orphan archived: $coldPaths (wm $wm)")
    // the orphan is gone from the hot log too (purged, not archived)
    assert(topic.events().count() == 20)
    // and the next produce re-issues its id exactly once
    topic.producer().produce(batch("new", 2))
    val ids = topic.events().groupBy(col("partition"))
      .agg(count(lit(1)).as("c"), countDistinct(col("event_id")).as("d")).collect()
    ids.foreach(r => assert(r.getLong(1) == r.getLong(2)))
  }
}