package graft

import java.nio.charset.StandardCharsets

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/**
 * Driver-run benchmark main: times every registered query at the scale
 * factor pointed to by SPARK_GRAFT_SF_DIR and prints ONE JSON line.
 *
 * A query that throws is reported under "errors" (name → message), NOT as a
 * timing — a failure must never masquerade as a fast run.
 */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.getOrCreate()

    // One-time JVM/codegen/parquet warm-up, excluded from timings (standard
    // bench hygiene): without it the alphabetically-first query absorbs
    // several seconds of class-loading and JIT cost that belongs to no
    // query. The tiny produce warms the engine write path (checkpoint,
    // window, parquet commit, manifest) the same way.
    spark.range(100000).selectExpr("sum(id)").collect()
    try {
      spark.read.parquet(s"$sfDir/region.parquet").count()
      val wh = java.nio.file.Files.createTempDirectory("graft-bench-warmup")
      sys.addShutdownHook { // the warm-up topic must not accumulate per run
        import scala.jdk.CollectionConverters._
        try java.nio.file.Files.walk(wh).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p): Unit)
        catch { case scala.util.control.NonFatal(_) => () }
      }
      val d = new graft.engine.GraftDriver(spark, wh.toString)
      d.createTopic("warmup", partitions = 1)
      import spark.implicits._
      d.openTopic("warmup").producer().produce(Seq("""{"w":1}""").toDF("metadata"))
      d.openTopic("warmup").events().count()
      // warm the text-dedup pipeline (tokenize/shingle/minhash/band-join
      // codegen + JIT) — otherwise the alphabetically-first LSH query
      // absorbs several seconds of one-time compilation cost
      graft.llm.Dedup.nearDuplicates(
        spark.read.parquet(s"$sfDir/documents.parquet").limit(120),
        "doc_id", "text", shingleN = 3, bands = 16, rowsPerBand = 4,
        threshold = 0.9, cache = false).count()
    } catch { case scala.util.control.NonFatal(_) => () } // fatal errors propagate

    // Min-of-3 per query: a back-to-back WARM pair in pass A (the second
    // run measures the query with its code JIT-compiled and inputs
    // page-cached — the steady-state number, and the methodology earlier
    // rounds recorded), plus one sample in a SEPARATE full pass B minutes
    // later. The separated sample is the sustained-load-spike guard: a
    // spike lasting tens of seconds swallows both back-to-back runs
    // (observed: 2-11× inflation on unchanged code in a past round's
    // capture), but cannot also cover the same query's pass-B slot.
    // Queries whose pass-A and pass-B samples still disagree badly get a
    // final targeted re-run. Each invocation rebuilds its own temp
    // warehouses/checkpoints, so repeats measure the same work, not a
    // result-cache hit of an earlier run.
    val names = SparkEntry.queries.keys.toSeq.sorted
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Split sample: FIXTURE time (inside the query function — registry
    // fixtures eagerly build topics, produce, and commit transactions
    // there; pure relational queries only build a plan) vs QUERY time
    // (executing the returned graded DataFrame). The top-line number
    // stays the sum, but the split is what makes a READ-PATH regression
    // visible inside an entry whose total is 60-90% fixture cost (e.g.
    // the q_txn_* family: 4-6 produce/commit cycles before the graded
    // read) — fixture noise can no longer hide a slow graded read. Each
    // sample also counts the classes Spark's codegen compiled during it and
    // their Janino time: on a warm sample both should be 0, so a class
    // cache that evicts the working set shows here, not as a vague slowdown.
    final case class Split(fixture: Double, query: Double,
                           compiles: Long, compileMs: Double) {
      def total: Double = fixture + query
      def min(o: Split): Split = if (total <= o.total) this else o
    }
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def once(name: String): Either[String, Split] = {
      val (c0, ns0) = (compiles, CodeGenerator.compileTime)
      val t0 = System.nanoTime()
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val t1 = System.nanoTime()
        df.count()
        Right(Split((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9,
          compiles - c0, (CodeGenerator.compileTime - ns0) / 1e6))
      } catch {
        case e: Throwable =>
          Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
      } finally {
        spark.catalog.clearCache() // drop caller-owned persists
        // localCheckpoint pins RDD-level storage that clearCache (a
        // CacheManager call) cannot see; without this, ~190 queries × 3
        // runs accumulate pinned blocks and the tail of the run pays
        // growing memory pressure that reads as a slowdown.
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      }
    }
    // The dedup/knn family is JIT-DEPTH sensitive: identical-code captures
    // have swung its members 2.0-4.0x (STATUS r14/r15) because the first
    // timed run decides how deeply the band-join/shingle codegen gets
    // compiled. One UNTIMED warm-up execution before the measured pair
    // pins the JIT state, so the pair samples the steady state both times
    // — without paying +1 execution for the ~200 stable queries.
    val deepWarmup: String => Boolean =
      n => n.startsWith("q_dedup_") || n.startsWith("q_knn_") ||
        n.endsWith("_neardup")
    // warm pair: min of two back-to-back runs (a flaky query is an error)
    def warmPair(name: String): Either[String, Split] = {
      if (deepWarmup(name)) once(name): Unit // discarded warm-up sample
      once(name).flatMap(t1 => once(name).map(t2 => t1.min(t2)))
    }
    val passA: Map[String, Split] = names.flatMap { name =>
      warmPair(name) match {
        case Left(msg) => errors(name) = msg; None
        case Right(t)  => Some(name -> t)
      }
    }.toMap
    val passB: Map[String, Split] = names.filterNot(errors.contains).flatMap { name =>
      once(name) match {
        case Left(msg) => errors(name) = msg; None
        case Right(t)  => Some(name -> t)
      }
    }.toMap
    val splits = scala.collection.mutable.LinkedHashMap.empty[String, Split]
    val unstable = scala.collection.mutable.ArrayBuffer.empty[String]
    names.filterNot(errors.contains).foreach { n =>
      val (a, b) = (passA(n), passB(n))
      splits(n) = a.min(b)
      // both samples slow AND mutually inconsistent → neither is trustworthy
      if (math.max(a.total, b.total) > 2.0 * math.min(a.total, b.total) &&
          math.min(a.total, b.total) > 1.0)
        unstable += n
    }
    unstable.foreach { n =>
      once(n).foreach(t => splits(n) = splits(n).min(t))
    }
    // vs-PRIOR-round guard: min-of-3 takes all samples inside ONE capture
    // window, so sustained machine load can inflate a cluster of queries
    // 2-4x and still leave pass A and pass B agreeing (observed in a past
    // round's official capture: phantom regressions in code untouched for
    // rounds). The committed BENCH_FULL.json on disk is the PREVIOUS
    // round's capture — diff against it and targeted-re-run the worst
    // (bounded at 15) >1.5x movers one more time, keeping the min. A real
    // regression survives the re-run; a load spike usually does not.
    val prior: Map[String, Double] = try {
      import org.json4s._
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("BENCH_FULL.json")), StandardCharsets.UTF_8)
      org.json4s.jackson.JsonMethods.parse(txt) \ "queries" match {
        case JObject(fields) => fields.collect {
          case (k, JDouble(v)) => k -> v
          case (k, JInt(v)) => k -> v.toDouble
          case (k, JLong(v)) => k -> v.toDouble
        }.toMap
        case _ => Map.empty
      }
    } catch { case scala.util.control.NonFatal(_) => Map.empty }
    // SYMMETRIC mover set (ADVICE r15): queries that moved >1.5x in EITHER
    // direction get the extra sample, so the protocol is uniform — a
    // regressed-looking query no longer gets chances an improved-looking
    // one is denied (that asymmetry biased totals downward). Each re-run's
    // pre/post totals are recorded in the 'reran' field so adjudication
    // can see exactly what the guard adjusted (and that improved movers'
    // mins were confirmed, not just kept).
    final case class Rerun(name: String, prior: Double,
                           before: Double, after: Double)
    val movers: Seq[String] = splits.toSeq.flatMap { case (name, sp) =>
      prior.get(name)
        .filter(p => p >= 0.2 && sp.total >= 0.001 &&
          math.max(sp.total / p, p / sp.total) > 1.5)
        .map(p => (name, math.max(sp.total / p, p / sp.total)))
    }.sortBy(-_._2).take(15).map(_._1)
    val reran: Seq[Rerun] = movers.map { n =>
      val before = splits(n).total
      // 'after' is the RAW re-run sample: a re-run slower than the capture
      // min is a DISCONFIRMING observation adjudication must see. An
      // errored re-run records -1.
      //
      // What the guard REPORTS is direction-aware (ADVICE r16): a
      // regressed-looking mover keeps the min (a faster re-run proves the
      // slow samples were load noise; a slower one changes nothing). An
      // improved-looking mover keeps its min ONLY when the re-run
      // CONFIRMS it (within the same 1.5x band the mover set uses) —
      // a disconfirming slower re-run replaces the min with the MEDIAN of
      // the three independent samples (pass-A pair min, pass-B, re-run),
      // so min-of-3-vs-min-of-2 sampling can no longer bias exactly the
      // queries flagged as suspicious toward phantom improvements.
      val improvedVsPrior = before < prior(n)
      val sample = once(n) match {
        case Right(t) =>
          if (!improvedVsPrior || t.total <= before * 1.5)
            splits(n) = splits(n).min(t)
          else
            splits(n) = Seq(passA(n), passB(n), t).sortBy(_.total).apply(1)
          t.total
        case Left(_)  => -1.0
      }
      Rerun(n, prior(n), before, sample)
    }
    val timings: scala.collection.Map[String, Double] =
      splits.map { case (k, v) => k -> v.total }

    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def jnum(v: Double): String = f"$v%.3f"
    val es = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    val total = timings.values.sum
    // the total split into graded reads and their fixtures (produce, commit,
    // stream drains), so a change to either shows on the one-line output
    val graded = splits.values.map(_.query).sum
    val fixture = splits.values.map(_.fixture).sum
    val totals = s""""graded_total":${jnum(graded)},"fixture_total":${jnum(fixture)}"""

    // Full per-query map → a file: the harness that captures this process's
    // stdout keeps only a bounded tail, and ~150 query timings overflow it
    // (every past round's bench artifact ended up unparseable for exactly
    // this reason). The printed line stays under ~1.5 KB: totals, errors,
    // and only the slowest queries inline; everything is in the file.
    val full = timings.map { case (k, v) => s"${jstr(k)}:${jnum(v)}" }
      .mkString("{", ",", "}")
    // per-query fixture/graded-read split (of the run that won the min):
    // read-path deltas between rounds are diffed on query_s, not totals
    val splitJson = splits.map { case (k, v) =>
      s"""${jstr(k)}:{"fixture_s":${jnum(v.fixture)},"query_s":${jnum(v.query)}}"""
    }.mkString("{", ",", "}")
    // codegen work of the same sample: classes compiled and Janino ms
    val codegenJson = splits.map { case (k, v) =>
      s"""${jstr(k)}:{"compiles":${v.compiles},"compile_ms":${jnum(v.compileMs)}}"""
    }.mkString("{", ",", "}")
    val unst = unstable.map(jstr).mkString("[", ",", "]")
    val rer = reran.map(r =>
      s"""{"q":${jstr(r.name)},"prior":${jnum(r.prior)},""" +
      s""""before":${jnum(r.before)},"after":${jnum(r.after)}}""")
      .mkString("[", ",", "]")
    val fullJson =
      s"""{"metric":"total","value":${jnum(total)},"unit":"sec","n":${timings.size},$totals,"queries":$full,"split":$splitJson,"codegen":$codegenJson,"errors":$es,"unstable":$unst,"reran":$rer,"sf":${jstr(sfDir)}}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_FULL.json"),
      (fullJson + "\n").getBytes(StandardCharsets.UTF_8)): Unit
    catch { case scala.util.control.NonFatal(_) => () }

    val slowest = timings.toSeq.sortBy(-_._2).take(25)
      .map { case (k, v) => s"${jstr(k)}:${jnum(v)}" }.mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":${jnum(total)},"unit":"sec","n":${timings.size},$totals,"queries":$slowest,"errors":$es,"queries_file":"BENCH_FULL.json","sf":${jstr(sfDir)}}"""
    println(line)
    // Machine-recoverability (r18, additions-only): every past round's
    // driver failed to parse the printed line because the harness's log
    // pipeline wraps it (sbt "[info] " prefix) or truncates the tail — so
    // round-over-round per-query diffs never populated. The IDENTICAL line
    // also lands in a fixed sidecar file, where no log pipeline can touch
    // it. (BENCH_FULL.json additionally carries the full per-query map and
    // the fixture/graded-read split per query.)
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LINE.json"),
      (line + "\n").getBytes(StandardCharsets.UTF_8)): Unit
    catch { case scala.util.control.NonFatal(_) => () }
    spark.stop()
  }
}
