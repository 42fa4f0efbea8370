package graft.engine

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/**
 * Change data feed (`TopicHandle.changes(fromVersion, toVersion)` — the
 * Delta `table_changes` analog): inserts are the raw version-diff window,
 * deletes are full preimages of in-span vectored rows, both pure scans.
 * Every vectored delete commits its own manifest version with the seq
 * embedded in the root name, so attribution is exact.
 */
class ChangesSpec extends SparkSpec {

  private def k(c: org.apache.spark.sql.Column = col("metadata")) =
    get_json_object(c, "$.k").cast("long")

  private def mkTopic(): (GraftDriver, TopicHandle) = {
    import spark.implicits._
    val d = new GraftDriver(spark, Files.createTempDirectory("graft-cdf").toString)
    d.createTopic("t", partitions = 2)
    val topic = d.openTopic("t")
    topic.producer().produce(
      (0 until 100).map(i => (s"""{"k":$i}""", i % 2)).toDF("metadata", "partition"))
    (d, topic)
  }

  private def versions(topic: TopicHandle): Seq[Long] =
    topic.history().orderBy("version").collect().map(_.getAs[Long]("version")).toSeq

  test("a produce span surfaces as inserts with exact commit attribution") {
    import spark.implicits._
    val (_, topic) = mkTopic()
    val v1 = versions(topic).last
    topic.producer().produce(
      (100 until 160).map(i => (s"""{"k":$i}""", i % 2)).toDF("metadata", "partition"))
    val v2 = versions(topic).last
    val ch = topic.changes(v1, v2)
    assert(ch.columns.toSet ==
      (Catalog.EventSchema.fieldNames.toSet ++
        Set("_change_type", "_commit_version", "_commit_timestamp")))
    val rows = ch.select(k().as("k"), col("_change_type"), col("_commit_version"))
      .as[(Long, String, Long)].collect()
    assert(rows.length == 60)
    assert(rows.forall(_._2 == "insert"))
    assert(rows.forall(_._3 == v2), "every in-span insert belongs to the one produce commit")
    assert(rows.map(_._1).sorted.toSeq == (100L until 160L))
  }

  test("a vectored delete commits a version and surfaces full preimages") {
    import spark.implicits._
    val (_, topic) = mkTopic()
    val v1 = versions(topic).last
    val n = topic.deleteWhereVectored(k() % 5 === 0)
    assert(n == 20)
    val vs = versions(topic)
    assert(vs.last == v1 + 1, "the vectored delete must commit its own version")
    val ch = topic.changes(v1, vs.last)
    val dels = ch.filter(col("_change_type") === "delete")
      .select(k().as("k"), col("_commit_version")).as[(Long, Long)].collect()
    assert(dels.length == 20)
    assert(dels.forall(_._2 == vs.last), "exact attribution from the root's embedded seq")
    assert(dels.map(_._1).sorted.toSeq == (0L until 100L by 5L).toSeq,
      "delete preimages carry the full metadata of the vectored rows")
    assert(ch.filter(col("_change_type") === "insert").count() == 0,
      "no events were produced in the span")
  }

  test("insert-then-delete within one span emits BOTH changes for the row") {
    import spark.implicits._
    val (_, topic) = mkTopic()
    val v0 = versions(topic).last
    topic.producer().produce(
      (100 until 120).map(i => (s"""{"k":$i}""", i % 2)).toDF("metadata", "partition"))
    topic.deleteWhereVectored(k() === 105): Unit
    val vEnd = versions(topic).last
    val both = topic.changes(v0, vEnd).filter(k() === 105)
      .select(col("_change_type")).as[String].collect().sorted
    assert(both.toSeq == Seq("delete", "insert"),
      "a row inserted and deleted in one span is two changes, like Delta CDF")
  }

  test("deletes before fromVersion are excluded; spans are reproducible") {
    val (_, topic) = mkTopic()
    topic.deleteWhereVectored(k() < 10): Unit
    val vAfterDelete = versions(topic).last
    import spark.implicits._
    topic.producer().produce(
      (100 until 130).map(i => (s"""{"k":$i}""", i % 2)).toDF("metadata", "partition"))
    val vEnd = versions(topic).last
    val ch = topic.changes(vAfterDelete, vEnd)
    assert(ch.filter(col("_change_type") === "delete").count() == 0,
      "the delete belongs to an earlier span")
    assert(ch.filter(col("_change_type") === "insert").count() == 30)
  }

  test("raw reads (applyDeletionVectors=false) surface vectored rows") {
    val (d, topic) = mkTopic()
    topic.deleteWhereVectored(k() % 4 === 0): Unit
    val raw = spark.read.format("graft").option("warehouse", d.warehouse)
      .option("topic", "t").option("applyDeletionVectors", "false").load()
    assert(raw.count() == 100, "the raw log still holds the vectored rows")
    assert(spark.read.format("graft").option("warehouse", d.warehouse)
      .option("topic", "t").load().count() == 75)
  }

  test("the delete-preimage scan plans only the root's id window") {
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val (d, topic) = mkTopic()
    // vector a narrow id slice, then produce a large tail the preimage
    // scan must NOT plan
    topic.deleteWhereVectored(col("event_id") < 3): Unit
    import spark.implicits._
    topic.producer().produce(
      (100 until 1100).map(i => (s"""{"k":$i}""", i % 2)).toDF("metadata", "partition"))
    val root = d.catalog.deleteVectorFiles("t").head
    val scan = new graft.streaming.GraftTopicTable(d.warehouse, "t", None, None, None)
      .newScanBuilder(new CaseInsensitiveStringMap(
        java.util.Map.of("cdfDeleteRoot", root)))
      .build().asInstanceOf[graft.streaming.GraftScan]
    val slices = scan.toBatch.planInputPartitions()
      .map(_.asInstanceOf[graft.streaming.GraftInputPartition])
    assert(slices.nonEmpty)
    assert(slices.forall(_.deleteKeepOnly))
    assert(slices.forall(_.untilId <= 3L),
      s"preimage slices must clamp to the root's footer bounds: " +
        slices.map(s => (s.partition, s.fromId, s.untilId)).mkString(", "))
    // and the scan's statistics are the exact vectored count
    import org.apache.spark.sql.connector.read.SupportsReportStatistics
    assert(scan.asInstanceOf[SupportsReportStatistics]
      .estimateStatistics().numRows().getAsLong == 6L)
  }

  test("streams refuse change-feed delete modes") {
    val (d, _) = mkTopic()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.format("graft").option("warehouse", d.warehouse)
        .option("topic", "t").option("applyDeletionVectors", "false").load()
        .writeStream.format("noop")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    assert(ex.getMessage.contains("batch reads") ||
      Option(ex.getCause).exists(_.getMessage.contains("batch reads")))
  }

  test("a fold consumes the preimages; the feed degrades as documented") {
    val (_, topic) = mkTopic()
    val v0 = versions(topic).last
    topic.deleteWhereVectored(k() % 5 === 0): Unit
    val vDel = versions(topic).last
    assert(topic.changes(v0, vDel)
      .filter(col("_change_type") === "delete").count() == 20)
    topic.compact() // rewrite folds the vectors (physical purge)
    val vEnd = versions(topic).last
    // the rewrite rebuilt the manifest as a fresh snapshot: pre-rewrite
    // versions are no longer retained, so the historical span fails
    // LOUDLY (the time-travel contract — never silently serve a feed
    // missing its preimages), while the retained span answers cleanly
    // with nothing left to replay
    intercept[IllegalArgumentException] { topic.changes(v0, vEnd) }
    assert(topic.changes(vEnd, vEnd)
      .filter(col("_change_type") === "delete").count() == 0)
  }

  test("a vectored delete's commit never adopts a crashed produce's orphans") {
    import spark.implicits._
    val (d, topic) = mkTopic() // 100 rows, 2 partitions, watermark 50 each
    // fabricate a crashed lock-held produce: a chunk file with ids AT the
    // watermark, unknown to the manifest, beside the `held-*` staging dir
    // such a produce keeps until its moved chunks are registered (its
    // crash marker — the state purgeUncommitted exists for)
    val tmp = java.nio.file.Files.createTempDirectory("orphan").toString
    (50L until 60L).map(i => (i, s"""{"k":${9000 + i}}""", Array[Byte](1)))
      .toDF("event_id", "metadata", "data")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val part = new org.apache.hadoop.fs.Path(tmp).getFileSystem(
      spark.sparkContext.hadoopConfiguration).listStatus(
      new org.apache.hadoop.fs.Path(tmp))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    val orphan = new org.apache.hadoop.fs.Path(
      d.catalog.logPath("t") + "/partition=0", "orphan-" + part.getName)
    fs.mkdirs(orphan.getParent)
    fs.rename(part, orphan): Unit
    fs.mkdirs(d.catalog.heldStagingDir("t")): Unit

    // the delete commits a version; the orphan must stay UNKNOWN to the
    // manifest (adopting it would shield it from the purge and let the
    // next produce re-issue its ids — duplicate rows)
    topic.deleteWhereVectored(k() === 1): Unit
    val listed = d.catalog.readManifest("t").get.files
      .valuesIterator.flatten.map(_.path).toSeq
    assert(!listed.exists(_.contains("orphan-")),
      "a watermark-or-above file is a crashed produce's output, never adopted")

    // the next produce purges it and re-issues ids 50.. densely
    topic.producer().produce(
      (200 until 220).map(i => (s"""{"k":$i}""", i % 2)).toDF("metadata", "partition"))
    assert(!fs.exists(orphan), "purged by produce crash hygiene")
    val ids = topic.events().groupBy(col("partition"))
      .agg(count(lit(1)).as("n"), countDistinct(col("event_id")).as("nd"),
        max(col("event_id")).as("mx")).collect()
    assert(ids.forall(r => r.getLong(1) == r.getLong(2)), "no duplicate ids")
    assert(topic.events().filter(k() >= 9000L).count() == 0,
      "orphan rows never became visible")
  }

  test("a vector fold preserves per-commit attribution (sidecar + row stamps)") {
    import spark.implicits._
    val (d, topic) = mkTopic()
    // six vectored deletes, each its own commit (the 5th crosses the >4
    // bound and auto-folds the roots)
    val delVers = (0 until 6).map { i =>
      topic.deleteWhereVectored(k() >= i * 10 && k() < i * 10 + 3): Unit
      versions(topic).last
    }
    assert(d.catalog.deleteVectorFiles("t").size < 6,
      "commit-time auto-fold must have bounded the root count")
    // full-span feed: every folded delete replays under its ORIGINAL commit
    val v0 = delVers.head - 1
    val byVer = topic.changes(v0, delVers.last)
      .filter(col("_change_type") === "delete")
      .select(col("_commit_version"), k().as("k")).as[(Long, Long)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    delVers.zipWithIndex.foreach { case (v, i) =>
      assert(byVer.get(v).contains((i * 10L until i * 10L + 3L).toSeq),
        s"delete commit $v must replay exactly its own preimages, got ${byVer.get(v)}")
    }
    // an incremental consumer that already read through the 3rd delete:
    // the fold must neither re-emit 1..3 under a newer version nor lose
    // 4..6 behind the merged root
    val tail = topic.changes(delVers(2), delVers.last)
      .filter(col("_change_type") === "delete")
      .select(k()).as[Long].collect().sorted.toSeq
    assert(tail == ((30L until 33L) ++ (40L until 43L) ++ (50L until 53L)),
      s"post-fold incremental span must hold exactly deletes 4..6, got $tail")
  }

  test("a crashed fold (merged root beside a leftover input) never double-emits") {
    import spark.implicits._
    val (d, topic) = mkTopic()
    topic.deleteWhereVectored(k() < 3): Unit
    val v1 = versions(topic).last
    topic.deleteWhereVectored(k() >= 10 && k() < 13): Unit
    val v2 = versions(topic).last
    val roots = d.catalog.deleteVectorFiles("t")
    assert(roots.size == 2)
    // reproduce the crash window: fold commits its merged root, dies
    // before marking an input folded — strip one marker back off
    val fs = new org.apache.hadoop.fs.Path(roots.head)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(d.catalog.compactDeleteVectors("t") == 2)
    assert(d.catalog.deleteVectorFiles("t").size == 1,
      "marked inputs must vanish from listings while staying on disk")
    fs.delete(new org.apache.hadoop.fs.Path(roots.head, "_folded"), false): Unit
    assert(d.catalog.deleteVectorFiles("t").size == 2, "fold root + leftover")
    // the leftover's source is a REPLICA of a fold-root source: planned
    // once, counted once
    val dels = topic.changes(v1 - 1, v2)
      .filter(col("_change_type") === "delete")
      .select(col("_commit_version"), k().as("k")).as[(Long, Long)].collect()
    assert(dels.length == 6, s"each preimage exactly once, got ${dels.length}")
    assert(dels.filter(_._1 == v1).map(_._2).sorted.toSeq == (0L until 3L))
    assert(dels.filter(_._1 == v2).map(_._2).sorted.toSeq == (10L until 13L))
    assert(d.catalog.deletedCountsByPartition("t").values.sum == 6L,
      "exact stats must not double-count the replica")
    // normal reads tolerate the duplicate ids; the next fold heals the state
    assert(spark.read.format("graft").option("warehouse", d.warehouse)
      .option("topic", "t").load().count() == 94)
    assert(d.catalog.compactDeleteVectors("t") == 2)
    assert(d.catalog.deleteVectorFiles("t").size == 1)
    assert(d.catalog.deletedCountsByPartition("t").values.sum == 6L)
  }

  test("a crashed fold-of-fold resolves every shared source to ONE root (clone-safe)") {
    import spark.implicits._
    val (d, topic) = mkTopic()
    topic.deleteWhereVectored(k() < 2): Unit
    val v1 = versions(topic).last
    topic.deleteWhereVectored(k() >= 10 && k() < 12): Unit
    val v2 = versions(topic).last
    d.catalog.compactDeleteVectors("t"): Unit // fold root R1 = {v1, v2}
    topic.deleteWhereVectored(k() >= 20 && k() < 22): Unit
    val v3 = versions(topic).last
    val r1 = d.catalog.deleteVectorFiles("t")
      .find(r => d.catalog.vectorRootSidecar(r).isDefined).get
    d.catalog.compactDeleteVectors("t"): Unit // fold root R2 = {v1, v2, v3}
    // crash window: R2 committed, R1 left unmarked — two fold roots
    // sharing sources v1, v2
    val fs = new org.apache.hadoop.fs.Path(r1)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(r1, "_folded"), false): Unit
    assert(d.catalog.deleteVectorFiles("t")
      .count(r => d.catalog.vectorRootSidecar(r).isDefined) == 2)
    // every key resolves to the SAME (widest) root
    val deduped = d.catalog.dedupedVectorSources("t")
    assert(deduped.map(_._1).distinct.size == 1,
      s"shared sources split across roots: ${deduped.map(_._1).distinct}")
    // feed stays exact through the window
    val dels = topic.changes(v1 - 1, v3)
      .filter(col("_change_type") === "delete")
      .select(col("_commit_version"), k().as("k")).as[(Long, Long)].collect()
    assert(dels.length == 6, s"each preimage once, got ${dels.length}")
    assert(dels.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap ==
      Map(v1 -> Seq(0L, 1L), v2 -> Seq(10L, 11L), v3 -> Seq(20L, 21L)))
    // a clone taken IN the window copies exactly one deduped root
    d.cloneTopic("t", "tc")
    assert(d.catalog.deleteVectorFiles("tc").size == 1,
      "clone must copy the one surviving root, not the superseded replica")
    assert(spark.read.format("graft").option("warehouse", d.warehouse)
      .option("topic", "tc").load().count() == 94)
  }

  test("a delete-heavy topic that never maintains stays bounded AND feed-exact") {
    import spark.implicits._
    val (d, topic) = mkTopic()
    val delVers = (0 until 20).map { i =>
      topic.deleteWhereVectored(k() >= i * 5 && k() < i * 5 + 2): Unit
      versions(topic).last
    }
    // commit-time auto-fold bounds the per-slice vector-load count with no
    // maintenance run — the scale contract for readers
    assert(d.catalog.deleteVectorFiles("t").size <= 5,
      s"roots must stay bounded, got ${d.catalog.deleteVectorFiles("t").size}")
    // the full-span feed still replays EVERY delete exactly once, each
    // under its own commit
    val dels = topic.changes(delVers.head - 1, delVers.last)
      .filter(col("_change_type") === "delete")
      .select(col("_commit_version"), k().as("k")).as[(Long, Long)].collect()
    assert(dels.length == 40, s"40 preimages expected, got ${dels.length}")
    assert(dels.map(_._2).sorted.toSeq ==
      (0 until 20).flatMap(i => Seq(i * 5L, i * 5L + 1)).sorted)
    dels.groupBy(_._1).foreach { case (v, rows) =>
      val i = delVers.indexOf(v)
      assert(i >= 0, s"version $v not a delete commit")
      assert(rows.map(_._2).sorted.toSeq == Seq(i * 5L, i * 5L + 1),
        s"commit $v must carry exactly its own two preimages")
    }
  }

  test("a root whose exact version fell out of retention still feeds (fallback)") {
    import spark.implicits._
    val (d, topic) = mkTopic()
    topic.deleteWhereVectored(k() < 7): Unit
    val prior = Catalog.ManifestSnapshotEvery
    Catalog.ManifestSnapshotEvery = 3
    try {
      // enough commits to roll snapshots past the delete's version
      (0 until 8).foreach { b =>
        topic.producer().produce(
          (100 + b * 10 until 110 + b * 10)
            .map(i => (s"""{"k":$i}""", i % 2)).toDF("metadata", "partition"))
      }
      val h = versions(topic)
      val root = d.catalog.deleteVectorFiles("t").head
      assert(Catalog.vectorRootVersion(root)
        .exists(v => !h.contains(v)), "the tagged version must have folded out")
      // batch format feed over the whole retained range: the delete must
      // still replay (timestamp fallback), not silently vanish
      val dels = spark.read.format("graft").option("warehouse", d.warehouse)
        .option("topic", "t").option("readChangeFeed", "true").load()
        .filter(col("_change_type") === "delete")
        .select(k()).as[Long].collect().sorted
      assert(dels.toSeq == (0L until 7L),
        "retention-folded attribution falls back to timestamp, never drops")
    } finally Catalog.ManifestSnapshotEvery = prior
  }
}
