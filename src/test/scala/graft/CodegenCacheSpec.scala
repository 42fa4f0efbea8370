package graft

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics

/** Sessions from [[GraftSession.builder]] keep the classes Spark generates
  * for graft's plans: a query set whose classes overflow Spark's default
  * cache of 100 compiles nothing when it runs again. */
class CodegenCacheSpec extends SparkSpec {

  test("a session from GraftSession.builder carries the codegen cache bound") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    assert(GraftSession.codegenCacheShortfall(GraftSession.CodegenCacheEntries).isEmpty)
    assert(GraftSession.codegenCacheShortfall(100).exists(
      _.contains("spark.sql.codegen.cache.maxEntries is 100")))
  }

  test("a warm cycle of registry queries generating over 100 classes compiles none") {
    // Spark sizes the cache once per JVM, when its code generator first
    // initialises; in this suite's shared JVM any earlier code generation
    // would decide it. So the cycles run in a JVM of their own, started
    // with this JVM's options (the module opens Spark needs), smaller heap.
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++
      ManagementFactory.getRuntimeMXBean.getInputArguments.asScala ++
      Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"),
        "graft.CodegenCycles", sf())
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new String(proc.getInputStream.readAllBytes(), StandardCharsets.UTF_8)
    assert(proc.waitFor() == 0, out.takeRight(4000))
    val compiled = out.linesIterator.collect {
      case CodegenCycles.Line(n) => n.toLong
    }.toSeq
    assert(compiled.size == 2, out.takeRight(4000))
    assert(compiled.head > 100, s"the cycle must overflow Spark's default: $compiled")
    assert(compiled(1) == 0, s"classes compiled per cycle: $compiled\n${out.takeRight(4000)}")
  }
}

/** Runs [[CodegenCycles.Queries]] twice in a fresh graft session and prints
  * how many classes Spark's code generator compiled in each cycle. */
object CodegenCycles {
  /** Registry queries whose generated code is the same on every run. Not,
    * for example, q_rank_global or q_sketch_freq: a warm run of either
    * sometimes compiles a few new classes, whatever the cache bound. */
  val Queries: Seq[String] = Seq("q_agg_percentile", "q_eb_numeric",
    "q_events_sessions", "q_knn_ivf", "q_events_resample",
    "q_dedup_keep_best", "q_agg_mode", "q_join_revenue", "q_agg_hll_merge")

  val Line = """codegen cycle compiled (\d+) classes""".r

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(master = "local[2]", shufflePartitions = 2).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    (1 to 2).foreach { _ =>
      val before = compiles
      Queries.foreach { q =>
        val start = compiles
        SparkEntry.queries(q)(spark, args(0)).collect()
        spark.catalog.clearCache()
        println(s"$q compiled ${compiles - start}")
      }
      println(s"codegen cycle compiled ${compiles - before} classes")
    }
    spark.stop()
  }
}
