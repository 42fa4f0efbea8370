package graft.engine

import org.apache.spark.sql.functions.col

/**
 * Crash points of a log rewrite's swap: a compaction (also one onto a lost
 * manifest log, which it rebuilds first), and a compliance purge that
 * drops the topic's last rows, killed at each of their file-system
 * mutations. Through the swap the manifest log is moved aside,
 * never deleted, so the watermark never reads below its value before the
 * rewrite — not even when a log scan would see the purged tail gone. After
 * a recovery produce: its ids follow that watermark (none re-issued), the
 * rewrite took effect wholly or not at all, the manifest and a listing of
 * the log agree, and vacuum reaps every leftover of the swap.
 */
class RewriteCrashSpec extends CrashPointSpec {

  private abstract class Rewrite(label: String) extends CrashCase(label) {
    /** Rows of batch "s" a completed rewrite leaves. */
    def survivingS: Int

    def recoverAndCheck(d: GraftDriver, acked: Boolean, before: Map[Int, Long]): Unit = {
      assert(d.catalog.nextIds("t") == before, "the watermark moved before recovery")
      val topic = d.openTopic("t")
      topic.producer().produce(batch("r", 4)): Unit
      assert(d.catalog.nextIds("t") == before.map { case (p, w) => p -> (w + 2) })

      val all = planned(d)
      val recovery = all.filter(_._3.startsWith("""{"r":"""))
      recovery.foreach { case (p, id, _) =>
        assert(id >= before(p), s"id $id re-issued on partition $p")
      }
      assert(all.map(r => (r._1, r._2)).distinct.size == all.size, "duplicate ids")
      assert(tagged(all, "a") == 6 && tagged(all, "r") == 4)
      val s = tagged(all, "s")
      assert(s == 4 || s == survivingS, s"the rewrite is partly applied: $s rows of 's'")
      if (acked) assert(s == survivingS, "a completed rewrite was undone")
      assert(rows(topic.events()).toSet == all.toSet, "the log's files and the manifest disagree")

      d.catalog.vacuumTopic("t"): Unit
      val fs = d.catalog.topicPath("t").getFileSystem(hc)
      val registered = d.catalog.readManifest("t").get.files.values.flatten.map(_.path).toSet
      assert(logFiles(d) == registered, "debris left in the log after vacuum")
      val leftovers = fs.listStatus(d.catalog.topicPath("t")).map(_.getPath.getName)
        .filter(_.contains("compact"))
      assert(leftovers.isEmpty, s"swap leftovers after vacuum: ${leftovers.mkString(", ")}")
      assert(rows(topic.events()).toSet == all.toSet, "vacuum dropped events")
    }
  }
  private object Compact extends Rewrite("compact") {
    def run(d: GraftDriver): Unit = d.openTopic("t").compact()
    def survivingS = 4
  }
  private object CompactLostLog extends Rewrite("compact, onto a lost manifest log") {
    override def prepare(d: GraftDriver): Unit = loseManifestLog(d)
    def run(d: GraftDriver): Unit = Compact.run(d)
    def survivingS = 4
  }
  private object PurgeTail extends Rewrite("purge of the last rows") {
    def run(d: GraftDriver): Unit =
      d.catalog.purgeTopic("t", col("metadata").startsWith("""{"s":"""))
    def survivingS = 0
  }

  Seq(Compact, CompactLostLog, PurgeTail).foreach { rewrite =>
    test(s"a rewrite killed at any file-system mutation keeps its watermark [${rewrite.label}]") {
      crashEveryMutation(rewrite)
    }
  }
}
