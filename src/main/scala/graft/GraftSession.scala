package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.SparkSession

/**
 * Standard session factory for the graft engine.
 *
 * Sets the configs every entry point (tests, Verify, Bench, user code) needs:
 *  - `spark.sql.shuffle.partitions` sized to the local core count rather than
 *    the 200 default (on a real cluster users override this; AQE coalesces
 *    down when partitions are small).
 *  - AQE on: runtime re-planning (skew-join splitting, partition coalescing)
 *    is part of the 100 TB story.
 *  - UTC session time zone so timestamp arithmetic matches the DuckDB oracle
 *    (the events table's `ts` is normalized to long epoch-nanos at the read
 *    boundary in [[graft.queries.Q.t]], whatever the parquet encoding).
 *  - `spark.sql.legacy.parquet.nanosAsLong`: the testdata has carried `ts`
 *    as BOTH INT64(TIMESTAMP NANOS) and timestamp[us] across driver
 *    versions. Spark REFUSES the nanos logical type outright ("Illegal
 *    Parquet type") unless this conf is set — the scan would crash before
 *    Q.t's normalization could run — while for the micros encoding the
 *    conf is inert (it only rewrites INT64-nanos columns). Keeping it set
 *    is what makes Q.t genuinely encoding-agnostic: nanos arrives as a
 *    long (pass-through branch), micros as a timestamp (convert branch).
 *  - `spark.sql.codegen.cache.maxEntries` at [[CodegenCacheEntries]]: Spark
 *    keeps the classes it generates for plans in one LRU cache per JVM,
 *    100 entries by default. One pass over the registered queries at
 *    sf0.001 generates 3,105 distinct classes; about 2,850 of them recur on
 *    every pass (most of the rest come from the streaming queries, whose
 *    code differs on every run). With the default, a query run again
 *    finds its classes evicted and recompiles them: a second pass compiled
 *    5,026 classes (56 s of Janino time on the driver, then code the JIT
 *    has never seen); at this bound it compiles only the ~250-300
 *    per-run ones. 4,096 holds a whole pass with a quarter to spare, so the
 *    LRU evicts only classes no later run asks for again. Keeping them
 *    costs ~30 MB of metaspace and class space (measured after two passes,
 *    against the default), and the JIT code cache stays under 180 MB of
 *    the 640 MB that `build.sbt` and the benchmark reserve. Spark reads the
 *    bound ONCE, when its code generator first initialises in the JVM: set
 *    it before the first session, as [[builder]] does. [[configure]] cannot
 *    raise it on a session built elsewhere and warns instead.
 */
object GraftSession {
  /** Spark's codegen class cache bound in graft sessions (see above). */
  val CodegenCacheEntries: Int = 4096

  private val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"

  /** Local parallelism: SPARK_GRAFT_CPUS if set, else the machine's cores. */
  private def localCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def builder(master: String = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$localCpus]"),
              shufflePartitions: Int = localCpus)
      : SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // Let AQE re-plan INSIDE cached subtrees (default false pins a
      // cached plan's output partitioning): the dedup/LSH pipelines
      // persist their shingle/signature frames, and with the default
      // every stage under the persist ran at the full static shuffle
      // partition count — hundreds of near-empty tasks per graded query
      // at small SF (measured: q_dedup_simhash_pairs 358 tasks → 16-19,
      // total task time 20s → 3s, GC 10x down), and the per-task
      // scheduling+GC noise behind the dedup family's capture-to-capture
      // bimodality (r16 directive #4). At scale the same conf lets the
      // band joins coalesce/split on REAL runtime sizes instead of
      // freezing the pre-cache layout.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // exact min/max/count answered from parquet footers (free at scale)
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.mergeSchema", "false")
      .config("spark.ui.enabled", "false")
      .config(CodegenCacheKey, CodegenCacheEntries.toString)

  def getOrCreate(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Apply graft's required runtime confs to an externally-built session
    * (and register graft's native SQL functions). */
  def configure(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // same rationale as builder(): without it, the LSH pipelines' cached
    // subtrees pin the static shuffle layout and AQE cannot right-size them
    spark.conf.set(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    codegenCacheShortfall(spark.conf.get(CodegenCacheKey).toInt).foreach { msg =>
      if (codegenCacheWarned.compareAndSet(false, true))
        org.slf4j.LoggerFactory.getLogger("graft.GraftSession").warn(msg)
    }
    graft.functions.GraftFunctions.register(spark)
    spark
  }

  private val codegenCacheWarned = new AtomicBoolean(false)

  /** The warning [[configure]] logs, once per JVM, for a session whose
    * codegen class cache holds fewer than [[CodegenCacheEntries]] classes. */
  private[graft] def codegenCacheShortfall(entries: Int): Option[String] =
    Option.when(entries < CodegenCacheEntries)(
      s"$CodegenCacheKey is $entries, below graft's $CodegenCacheEntries: queries run " +
        "again will recompile their generated classes (tens to hundreds of ms of " +
        "Janino time per query, then unwarmed JIT code). The bound is read once per " +
        "JVM; set it on the first session, or build it with GraftSession.builder.")
}
