package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.engine.FileCreate

/**
 * Similarity search over embedding columns (`array<float>`).
 *
 * Two paths:
 *  - [[bruteForceTopK]]: exact cosine top-k with the (small) query set
 *    broadcast against the candidate corpus — the correct baseline shape at
 *    any scale where |queries| ≪ |corpus| (the corpus is never shuffled,
 *    only scanned);
 *  - [[ivfTopK]]: IVF-style approximate search — candidates are bucketed by
 *    nearest coarse centroid and only `nprobe` cells are scanned per query.
 *    At 100 TB the cell assignment is the partition key; a query touches a
 *    bounded fraction of the corpus.
 *
 * Dot products run in DOUBLE via a sequential fold (`aggregate`), making the
 * arithmetic bit-reproducible across engines (same left-to-right order).
 *
 * Scale shapes: the quadratic scoring steps (corpus × centroids, pair × pair)
 * evaluate ONE dot product per pair — operand norms are computed once per row
 * before the join and carried through (the expression tree per norm is
 * unchanged, so every published `cos_micro` integer is bit-identical to the
 * naive 3-dots-per-pair form). Corpus cell assignment (n=1) collapses the
 * n·k scored rows with a map-side-combined `min(struct(...))` aggregate
 * before any exchange — shuffle volume is ~n rows, never n·k as a ranking
 * window would force (same shape as [[Clustering.assignNearest]]).
 */
object Similarity {

  /** Sequential-fold dot product of two float-array columns, in double —
    * a native codegen expression (see [[graft.functions.DotProduct]]); the
    * summation order is identical to an `aggregate(zip_with(...))` fold
    * (and mismatched lengths yield null, exactly like the zip_with null
    * padding), so results are bit-identical — just without the interpreted
    * lambda chain. */
  def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.dot(a.cast("array<double>"), b.cast("array<double>"))

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Cosine scaled to exact integers (1e6) for engine-independent compares. */
  def cosineMicro(a: Column, b: Column): Column =
    round(cosine(a, b) * 1000000).cast("long")

  /** Cosine-micro with pre-computed operand norms (hoisted out of a join so
    * the per-pair work is one dot, not three). `an`/`bn` MUST be
    * `norm(a)`/`norm(b)` values — then `dot/(an*bn)` is the exact expression
    * tree of [[cosineMicro]] and the integers cannot drift. */
  private def cosineMicroPre(a: Column, b: Column, an: Column, bn: Column): Column =
    round(dot(a, b) / (an * bn) * 1000000).cast("long")

  /**
   * Exact top-k: for each query vector, the k nearest candidates by cosine
   * (ties broken by candidate id). `queries` is broadcast — the corpus side
   * stays in place; per-pair scoring is a single dot (norms hoisted).
   */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col("id"), col("vec"), norm(col("vec")).as("qn"))
    val c = candidates.select(col("id"), col("vec"), norm(col("vec")).as("cn"))
    val joined = c.as("c").join(broadcast(q.as("q")))
      .select(col("q.id").as("query_id"), col("c.id").as("cand_id"),
        cosineMicroPre(col("q.vec"), col("c.vec"), col("q.qn"), col("c.cn"))
          .as("cos_micro"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_micro").desc, col("cand_id"))
    joined.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("cand_id"), col("cos_micro"))
  }

  /** Assign each vector to its `n` nearest coarse centroids (ties toward
    * the smaller centroid id) — the IVF coarse quantizer. Returns
    * (id, vec, vn, cell) with the row's norm carried through so downstream
    * pair scoring never recomputes it.
    *
    * n=1 (the corpus-side path) is a map-side-combined argmin aggregate —
    * the corpus×centroids scored rows collapse BEFORE any exchange. n>1
    * (query-side probing, a small relation) ranks through a window. */
  def nearestCells(df: DataFrame, centroids: DataFrame, n: Int): DataFrame = {
    val v = df.select(col("id"), col("vec"), norm(col("vec")).as("vn"))
    val c = centroids.select(col("id").as("cell"), col("vec").as("cvec"),
      norm(col("vec")).as("cn"))
    val cc = cosineMicroPre(col("vec"), col("cvec"), col("vn"), col("cn"))
    if (n == 1) {
      // argmin as min over ONE packed long — (1e6 - cosMicro) in the high
      // bits (cosMicro is bounded to ±1e6, so the shifted value fits 21
      // bits), centroid id in the low 40 (bound documented: centroid ids
      // < 2^40). A long min is hash-aggregable: the corpus×centroids rows
      // collapse in the partial aggregate BEFORE the exchange, and —
      // unlike a `first(vec)` carry, which is non-deterministic and blocks
      // exchange reuse — grouping by (id, vec, vn) keeps the whole subplan
      // deterministic, so self-joins over assignments reuse one exchange.
      val packed = (lit(1000000L) - cc) * lit(1L << 40) + col("cell")
      v.join(broadcast(c))
        .select(col("id"), col("vec"), col("vn"), packed.as("packed"))
        .groupBy(col("id"), col("vec"), col("vn"))
        .agg(min(col("packed")).as("best"))
        .select(col("id"), col("vec"), col("vn"),
          pmod(col("best"), lit(1L << 40)).as("cell"))
    } else {
      import org.apache.spark.sql.expressions.Window
      val byCell = v.join(broadcast(c))
        .select(col("id"), col("vec"), col("vn"), col("cell"), cc.as("cc"))
      val w = Window.partitionBy(col("id")).orderBy(col("cc").desc, col("cell"))
      byCell.withColumn("cr", row_number().over(w)).filter(col("cr") <= n)
        .select(col("id"), col("vec"), col("vn"), col("cell"))
    }
  }

  /**
   * Embedding-cosine near-duplicate pairs, cell-blocked: vectors pair up
   * only within their IVF cell (bucketed self-join — no cross join), then
   * the exact cosine threshold filters. Approximate by construction
   * (cross-cell near-dups are unseen — same recall shape as any blocked
   * dedup), fully deterministic, oracle-reproducible.
   */
  def cellBlockedNearDuplicates(vectors: DataFrame, centroids: DataFrame,
                                thresholdMicro: Long): DataFrame = {
    val cells = nearestCells(vectors, centroids, 1)
    cells.as("a").join(cells.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .select(col("a.id").as("vec_a"), col("b.id").as("vec_b"),
        cosineMicroPre(col("a.vec"), col("b.vec"), col("a.vn"), col("b.vn"))
          .as("cos_micro"))
      .filter(col("cos_micro") >= thresholdMicro)
  }

  /**
   * Incremental embedding near-dedup vs a persisted vector store — the
   * embedding-modality analog of [[Dedup.incrementalNear]]: a new vector is
   * dropped iff it has a cosine ≥ `thresholdMicro` partner in the store, or
   * at a SMALLER id within its own shard (one-pass rule — the higher id of
   * every qualifying pair drops). Candidates are cell-blocked exactly like
   * [[cellBlockedNearDuplicates]] (cross-cell near-dups unseen, same
   * documented recall shape); store-vs-store pairs are never generated.
   *
   * The store is `nearestCells` output (id, vec, vn, cell) persisted
   * between shards — old vectors are never re-scored against centroids,
   * and norms ride along so no pair recomputes them. The store grows by
   * the shard's survivor count.
   *
   * @return (survivors — surviving `newVecs` rows unchanged,
   *         nextStore — `store` ∪ the survivors' (id, vec, vn, cell) rows)
   */
  def incrementalEmbedDedup(newVecs: DataFrame, store: DataFrame,
                            centroids: DataFrame, thresholdMicro: Long)
      : (DataFrame, DataFrame) = {
    val fresh = nearestCells(newVecs, centroids, 1)
    val cols = Seq(col("id"), col("vec"), col("vn"), col("cell"))
    val all = store.select(cols :+ lit(0L).as("isnew"): _*)
      .unionByName(fresh.select(cols :+ lit(1L).as("isnew"): _*))
    val pairs = all.as("a").join(all.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id") &&
          (col("a.isnew") === 1L || col("b.isnew") === 1L))
      .select(col("a.id").as("ida"), col("b.id").as("idb"),
        col("a.isnew").as("na"), col("b.isnew").as("nb"),
        cosineMicroPre(col("a.vec"), col("b.vec"), col("a.vn"), col("b.vn"))
          .as("cos_micro"))
      .filter(col("cos_micro") >= thresholdMicro)
    // pairs carry ida < idb: a new idb drops against ANY partner (store or
    // smaller-id new); a new ida drops only against the store
    val dropped = pairs.filter(col("na") === 1L && col("nb") === 0L)
      .select(col("ida").as("id"))
      .union(pairs.filter(col("nb") === 1L).select(col("idb").as("id")))
      .distinct()
    val survivors = newVecs.join(dropped, Seq("id"), "left_anti")
    val nextStore = store.select(cols: _*)
      .unionByName(fresh.join(dropped, Seq("id"), "left_anti").select(cols: _*))
    (survivors, nextStore)
  }

  def ivfTopK(queries: DataFrame, candidates: DataFrame, centroids: DataFrame,
              k: Int, nprobe: Int = 2): DataFrame = {
    val assigned = nearestCells(candidates, centroids, 1) // corpus: 1 cell each
    probeAndRank(queries, assigned, centroids, k, nprobe)
  }

  /** Probe `assigned` (id, vec, vn, cell) with the query set and rank —
    * the shared tail of the direct and indexed IVF paths. No pair dedup
    * needed: each candidate lives in exactly ONE cell (n=1), so a
    * (query, candidate) pair can appear through at most one probed cell. */
  private def probeAndRank(queries: DataFrame, assigned: DataFrame,
                           centroids: DataFrame, k: Int, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val probed = nearestCells(queries, centroids, nprobe)
    val scored = probed.as("p").join(assigned.as("a"), col("p.cell") === col("a.cell"))
      .select(col("p.id").as("query_id"), col("a.id").as("cand_id"),
        cosineMicroPre(col("p.vec"), col("a.vec"), col("p.vn"), col("a.vn"))
          .as("cos_micro"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_micro").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("cand_id"), col("cos_micro"))
  }

  // -- persisted IVF index ----------------------------------------------------
  //
  // Layout (versioned — maintenance installs atomically):
  //   <path>/_current                         pointer file naming the live
  //                                           version dir (e.g. "v-3")
  //   <path>/v-N/centroids/                   coarse quantizer (id, vec)
  //   <path>/v-N/cells/shard=<sid>/cell=<c>/  assignments, cell-partitioned
  //   <path>/v-N/_committed/<sid>             empty marker per committed shard
  //
  // The shard dimension is the exactly-once append protocol (the same
  // marker-before-visibility shape as the engine's streaming sink and
  // manifest, [[graft.streaming.GraftSink]]): readers take ONLY shards with
  // a commit marker, so a crashed half-written shard is invisible and a
  // replayed append of a committed shard is a no-op — re-running a shard
  // can never duplicate ids into a cell (a duplicated candidate would
  // occupy two ranks of a top-k). Reads open committed shard directories
  // EXPLICITLY (and, when probing, explicit cell subdirectories), so both
  // the committed filter and the probed-cell filter are directory-level
  // pruning by construction — no reliance on post-hoc partition-filter
  // pushdown, and uncommitted debris is never even listed.
  //
  // Version dirs make every O(corpus) maintenance rewrite (rebalance,
  // shard folding) an ATOMIC install: the new version is staged beside the
  // live one, `_current` flips in one rename, and the superseded version
  // is deleted at the START of the NEXT maintenance operation — so a
  // reader that resolved the old root keeps a readable index for a full
  // maintenance cycle (grace window), and a crash at ANY step leaves
  // `_current` pointing at a complete version. There is no window in
  // which the index is empty or half-installed — the failure mode the old
  // delete-then-rename swap had (a reader racing the swap saw ZERO
  // committed shards and silently returned no candidates).
  //
  // Concurrency contract (same as topic compaction): maintenance ops
  // (save/append/rebalance/fold) are caller-serialized — one maintainer at
  // a time; readers are lock-free and never block maintenance.

  private def fsOf(spark: org.apache.spark.sql.SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private val BaseShard = "base"
  private val VersionRe = "v-(\\d+)".r

  private def readPointer(fs: org.apache.hadoop.fs.FileSystem,
                          path: String): Option[String] =
    try {
      val in = fs.open(new org.apache.hadoop.fs.Path(s"$path/_current"))
      val v = try new String(org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8).trim finally in.close()
      v match {
        case VersionRe(_) => Some(v)
        case _ => throw new java.io.IOException(
          s"corrupt index pointer $path/_current: '$v'")
      }
    } catch { case _: java.io.FileNotFoundException => None }

  /** Is `ver` a COMPLETE version (has at least one committed shard)? */
  private def versionComplete(fs: org.apache.hadoop.fs.FileSystem, path: String,
                              ver: String): Boolean =
    try fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/$ver/_committed"))
      .exists(_.isFile)
    catch { case _: java.io.FileNotFoundException => false }

  /** Marker a maintenance install writes INTO each superseded version dir
    * (the deletion-vector fold's `_folded` pattern): marked versions drop
    * out of resolution but stay physically readable, so a reader whose
    * plan resolved the old version just before the pointer flip executes
    * against intact files; [[cleanupStale]] reaps them only past the
    * staleness horizon. The marker's mtime IS the reap clock. */
  private val SupersededMarker = "_superseded"

  private def isSuperseded(fs: org.apache.hadoop.fs.FileSystem, path: String,
                           ver: String): Boolean =
    fs.exists(new org.apache.hadoop.fs.Path(s"$path/$ver/$SupersededMarker"))

  private def markSuperseded(fs: org.apache.hadoop.fs.FileSystem, path: String,
                             ver: String): Unit =
    if (!isSuperseded(fs, path, ver))
      FileCreate.touch(fs, new org.apache.hadoop.fs.Path(s"$path/$ver/$SupersededMarker"))

  /** Complete, NOT-superseded version dirs under `path`, newest first —
    * the READ-ONLY crash-recovery view: if the pointer writer died inside
    * its delete→rename window, the highest complete unmarked version IS
    * the live index (an incomplete dir can only be a crashed stage, and a
    * marked dir only a superseded grace copy — never a version the
    * pointer should name again). */
  private def completeVersions(fs: org.apache.hadoop.fs.FileSystem,
                               path: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).filter(_.isDirectory).map(_.getPath.getName)
      .collect { case v @ VersionRe(n)
        if versionComplete(fs, path, v) && !isSuperseded(fs, path, v) => (n.toLong, v) }
      .sortBy(-_._1).map(_._2).toSeq
  }

  /** The live version root of a persisted index (the `_current` pointer's
    * target; the path itself for a pre-versioning legacy layout). Rides the
    * pointer writer's delete→rename window with a short retry, then falls
    * back READ-ONLY to the highest complete version dir (a crash between
    * the pointer delete and rename must not lose the index — the next
    * maintenance op heals the pointer); fails LOUDLY only when nothing
    * complete exists — a missing pointer must never read as an empty
    * index. */
  def currentRoot(spark: org.apache.spark.sql.SparkSession, path: String): String = {
    val (fs, _) = fsOf(spark, path)
    var attempt = 0
    while (attempt < 4) {
      readPointer(fs, path) match {
        case Some(v) => return s"$path/$v"
        case None =>
          if (fs.exists(new org.apache.hadoop.fs.Path(s"$path/centroids")))
            return path // legacy unversioned layout
      }
      attempt += 1
      Thread.sleep(2L * attempt)
    }
    completeVersions(fs, path).headOption match {
      case Some(v) => s"$path/$v"
      case None => throw new java.io.FileNotFoundException(
        s"no IVF index at $path: no _current pointer, no complete version " +
        "dir, no legacy centroids/ directory")
    }
  }

  private def nextVersion(fs: org.apache.hadoop.fs.FileSystem, path: String): String = {
    val cur = readPointer(fs, path).orElse(completeVersions(fs, path).headOption)
    cur match {
      case Some(VersionRe(n)) => s"v-${n.toLong + 1}"
      case _ => "v-1"
    }
  }

  /** Point `_current` at `ver` — the install point of every maintenance
    * write. One delete+rename on a tiny file; [[currentRoot]]'s retry rides
    * the sub-ms window. The superseded version dir is left in place,
    * MARKED, as the racing readers' grace copy; [[cleanupStale]] reaps it
    * past the staleness horizon. */
  private def flipCurrent(spark: org.apache.spark.sql.SparkSession, path: String,
                          ver: String): Unit = {
    val (fs, _) = fsOf(spark, path)
    val cur = new org.apache.hadoop.fs.Path(s"$path/_current")
    val tmp = new org.apache.hadoop.fs.Path(s"$path/._current.tmp")
    FileCreate.write(fs, tmp, ver.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if (fs.exists(cur)) fs.delete(cur, false)
    if (!fs.rename(tmp, cur))
      throw new java.io.IOException(s"index install: cannot rename $tmp -> $cur")
  }

  /** MARK superseded version dirs and reap them past the staleness
    * horizon (the deletion-vector fold's mark-then-reap shape) — run at
    * the START of each maintenance op. Deleting a superseded version at
    * the next op's start (the old rule) silently raced long-running
    * reader plans that resolved the version just before the flip; a
    * marked version instead vanishes from resolution immediately but
    * stays physically readable for the horizon. Crashed INCOMPLETE stages
    * (no committed shard — readers can never have resolved them) and
    * leftover legacy dirs still drop immediately. */
  /** Test observability ([[graft.engine.Catalog.deletesListings]]
    * pattern): how many times the full mark-and-reap sweep actually ran,
    * and how many version-root LISTs the gate + sweep issued. The append
    * path's cost contract — one pointer read, one LIST, zero per-dir
    * stats on a clean index — is pinned by a spec on these. */
  private[graft] val staleSweeps = new java.util.concurrent.atomic.AtomicLong
  private[graft] val rootListings = new java.util.concurrent.atomic.AtomicLong

  /** The HOT-PATH gate in front of [[cleanupStale]]: appends run per
    * micro-batch, and an unconditional sweep is O(versions) LIST+stat
    * calls per append that reap nothing 99% of the time — on an object
    * store that is real latency and real request cost. One LIST of the
    * version root decides whether anything could need sweeping (a
    * non-current version dir or legacy debris); a clean index pays one
    * pointer read + one LIST and NO per-directory marker stats. A missing
    * pointer always sweeps: that is the crashed-flip heal, and skipping
    * it would fail the append outright. */
  private def cleanupStaleIfNeeded(spark: org.apache.spark.sql.SparkSession,
                                   path: String): Unit = {
    val (fs, root) = fsOf(spark, path)
    if (!fs.exists(root)) return
    readPointer(fs, path) match {
      case None => cleanupStale(spark, path) // crashed pointer flip: heal
      case cur @ Some(_) =>
        rootListings.incrementAndGet(): Unit
        val debris = fs.listStatus(root).exists { st =>
          st.isDirectory && {
            val n = st.getPath.getName
            n == "centroids" || n == "cells" || n == "_committed" ||
            (VersionRe.pattern.matcher(n).matches() && !cur.contains(n))
          }
        }
        if (debris) cleanupStale(spark, path)
    }
  }

  private def cleanupStale(spark: org.apache.spark.sql.SparkSession,
                           path: String): Unit = {
    val (fs, root) = fsOf(spark, path)
    if (!fs.exists(root)) return
    staleSweeps.incrementAndGet(): Unit
    rootListings.incrementAndGet(): Unit
    // Heal a crashed pointer flip FIRST (maintenance ops are
    // caller-serialized, so writing here cannot race another writer): the
    // highest COMPLETE unmarked version becomes the pointer target.
    // Without this, a missing pointer would make every complete version
    // look "stale" and the sweep below would destroy the index.
    val cur = readPointer(fs, path).orElse {
      completeVersions(fs, path).headOption.map { v =>
        flipCurrent(spark, path, v)
        v
      }
    }
    val horizon = System.currentTimeMillis() - graft.engine.Catalog.CompactLockStaleMs
    fs.listStatus(root).filter(_.isDirectory).foreach { st =>
      val n = st.getPath.getName
      val staleLegacy = cur.isDefined &&
        (n == "centroids" || n == "cells" || n == "_committed")
      if (staleLegacy) fs.delete(st.getPath, true): Unit
      else if (VersionRe.pattern.matcher(n).matches() && !cur.contains(n)) {
        if (!versionComplete(fs, path, n)) {
          // crashed stage: never resolvable, no grace window owed
          fs.delete(st.getPath, true): Unit
        } else if (!isSuperseded(fs, path, n)) {
          // covers the crash window between the pointer flip and the
          // install's own marking
          markSuperseded(fs, path, n)
        } else if (fs.getFileStatus(new org.apache.hadoop.fs.Path(
            s"$path/$n/$SupersededMarker")).getModificationTime < horizon) {
          fs.delete(st.getPath, true): Unit
        }
      }
    }
  }

  /** Committed shard ids of the index's live version. */
  def committedShards(spark: org.apache.spark.sql.SparkSession,
                      path: String): Seq[String] =
    committedShardsIn(spark, currentRoot(spark, path))

  private def committedShardsIn(spark: org.apache.spark.sql.SparkSession,
                                root: String): Seq[String] = {
    val (fs, _) = fsOf(spark, root)
    val dir = new org.apache.hadoop.fs.Path(s"$root/_committed")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).filter(_.isFile).map(_.getPath.getName).toSeq.sorted
  }

  /** Shard ids whose DATA was folded into the base shard by a rebuild or
    * fold — kept as ONE `_folded.json` list per version so a replayed
    * [[appendToIndex]] of a long-gone shard id stays a no-op (the
    * exactly-once contract must survive maintenance; without this, a fold
    * would erase the commit evidence and a crash-recovery replay would
    * land the same ids twice). A single file, not a marker directory:
    * years of micro-batch shards fold into thousands of ids, and every
    * version rewrite would otherwise re-create that many empty files. */
  private def foldedShardsIn(spark: org.apache.spark.sql.SparkSession,
                             root: String): Seq[String] = {
    val (fs, _) = fsOf(spark, root)
    val f = new org.apache.hadoop.fs.Path(s"$root/_folded.json")
    try {
      val in = fs.open(f)
      val json = try new String(org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      org.json4s.jackson.JsonMethods.parse(json) match {
        case org.json4s.JArray(vs) =>
          vs.collect { case org.json4s.JString(sid) => sid }.sorted
        case _ => throw new java.io.IOException(s"corrupt folded-shard list $f")
      }
    } catch { case _: java.io.FileNotFoundException => Seq.empty }
  }

  /** The index's live assignment relation (id, vec, vn, cell). Committed
    * shard directories are opened EXPLICITLY (basePath keeps the partition
    * columns), so uncommitted debris is never listed, let alone scanned;
    * `probe` additionally narrows the read to explicit cell directories —
    * guaranteed directory-level pruning, independent of partition-filter
    * pushdown through casts. A resolvable index with ZERO committed shards
    * is a loud error, never an empty relation — silently returning no
    * candidates is the one failure mode an ANN index must not have. */
  def readIndexCells(spark: org.apache.spark.sql.SparkSession,
                     path: String): DataFrame =
    // the retry rides a concurrent install's pointer flip (re-resolving
    // the live version); the superseded version's marked grace window
    // covers the returned plan's execution
    graft.engine.Catalog.retryOnRollRace(
      readCellsIn(spark, currentRoot(spark, path), None))

  private def readCellsIn(spark: org.apache.spark.sql.SparkSession, root: String,
                          probe: Option[Seq[Long]]): DataFrame = {
    val (fs, _) = fsOf(spark, root)
    val shards = committedShardsIn(spark, root)
    if (shards.isEmpty) throw new IllegalStateException(
      s"IVF index at $root has no committed shards — half-installed or " +
      "corrupted index (refusing to serve an empty candidate set)")
    val shardDirs = shards.map(sid => s"$root/cells/shard=$sid")
    val dirs = probe match {
      case None => shardDirs
      case Some(cells) =>
        // one listStatus per committed shard (shard count is bounded by
        // maintainIndex's fold), intersected with the probed cell set —
        // cheaper than |shards|×|cells| existence checks on an object store
        val want = cells.map(c => s"cell=$c").toSet
        shardDirs.flatMap { sd =>
          fs.listStatus(new org.apache.hadoop.fs.Path(sd))
            .filter(st => st.isDirectory && want.contains(st.getPath.getName))
            .map(_.getPath.toString)
        }
    }
    val base = spark.read.option("basePath", s"$root/cells")
    val raw =
      if (dirs.nonEmpty) base.parquet(dirs: _*)
      else // every probed cell is empty in every shard: preserve schema
        base.parquet(shardDirs: _*).filter(lit(false))
    // partition-dir inference types `cell=<n>` as int; restore the long
    // the assignment relation was written with
    raw.select(col("id"), col("vec"), col("vn"), col("cell").cast("long").as("cell"))
  }

  private def writeShard(spark: org.apache.spark.sql.SparkSession, root: String,
                         assigned: DataFrame, shardId: String): Unit = {
    require(shardId.nonEmpty && !shardId.contains('/'),
      s"shard id must be a plain name, got '$shardId'")
    val (fs, _) = fsOf(spark, root)
    // a leftover dir without a marker is a crashed earlier attempt of this
    // same shard — readers never saw it; replace it wholesale
    val shardDir = new org.apache.hadoop.fs.Path(s"$root/cells/shard=$shardId")
    if (fs.exists(shardDir)) fs.delete(shardDir, true)
    // Cluster by cell before the partitioned write (guide §6, the
    // distribution-mode=hash shape): without it every upstream task writes
    // up to n_cells files — at scale that is the many-small-files problem
    // (tasks × cells tiny parquet files per shard), and the whole write
    // serializes through however many tasks the assignment happened to
    // have. REBALANCE rather than a plain repartition (ADVICE r17): a
    // plain `repartition(cell)` hashes into the full static shuffle width,
    // so a small incremental shard pays mostly-empty task launches and
    // colliding cells serialize through one writer; the rebalance exchange
    // lets AQE coalesce a tiny shard to a few real writer tasks and split
    // an oversized cell into several right-sized files — writer
    // parallelism tracks the shard's actual cell volume at any scale.
    assigned.withColumn("shard", lit(shardId))
      .hint("rebalance", "cell")
      .write.mode("append").partitionBy("shard", "cell").parquet(s"$root/cells")
    val marker = new org.apache.hadoop.fs.Path(s"$root/_committed/$shardId")
    FileCreate.mkdirs(fs, marker.getParent)
    FileCreate.touch(fs, marker) // the commit point: shard becomes visible
  }

  /** Stage a complete version (centroids + one base shard) and install it.
    * `foldedIds` = shard ids whose data the base shard now carries (their
    * append-replay no-op markers are preserved in the new version). */
  private def installVersion(spark: org.apache.spark.sql.SparkSession, path: String,
                             centroids: DataFrame, assigned: DataFrame,
                             foldedIds: Seq[String] = Seq.empty): Unit = {
    val (fs, _) = fsOf(spark, path)
    val ver = nextVersion(fs, path)
    val stage = s"$path/$ver"
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)
    centroids.select(col("id"), col("vec"))
      .write.mode("overwrite").parquet(s"$stage/centroids")
    if (foldedIds.nonEmpty) {
      val f = new org.apache.hadoop.fs.Path(s"$stage/_folded.json")
      FileCreate.mkdirs(fs, f.getParent)
      FileCreate.write(fs, f, org.json4s.jackson.JsonMethods.compact(
        org.json4s.JArray(foldedIds.sorted.map(org.json4s.JString(_)).toList))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    writeShard(spark, stage, assigned, BaseShard)
    val prior = completeVersions(fs, path).filterNot(_ == ver)
    flipCurrent(spark, path, ver)
    // mark the superseded version(s) right away — cleanupStale re-marks
    // after a crash in this window, so the reap clock always starts
    prior.foreach(markSuperseded(fs, path, _))
  }

  /** Every shard id the given root has absorbed: live shards (minus the
    * base) plus previously folded ones. */
  private def absorbedShardIds(spark: org.apache.spark.sql.SparkSession,
                               root: String): Seq[String] =
    ((committedShardsIn(spark, root).toSet - BaseShard) ++
      foldedShardsIn(spark, root)).toSeq.sorted

  /**
   * Persist an IVF index: centroids plus the corpus cell assignments,
   * written PARTITIONED BY cell — the on-disk layout IS the index. A query
   * batch probing `nprobe` cells reads only those cell directories
   * (partition pruning), never the full corpus: the build cost (one
   * corpus×centroids assignment pass) is paid once and amortized over
   * every query batch that follows. Re-saving over a live index stages the
   * new version beside it and installs atomically.
   */
  def saveIndex(candidates: DataFrame, centroids: DataFrame, path: String): Unit = {
    val spark = candidates.sparkSession
    cleanupStale(spark, path)
    installVersion(spark, path, centroids, nearestCells(candidates, centroids, 1))
  }

  /**
   * Incrementally extend a persisted index: the new vectors are assigned
   * to the STORED centroids (never recomputed — cell identity must stay
   * stable or every existing assignment silently invalidates) and landed
   * as shard `shardId` of the LIVE version. Cost is O(new vectors);
   * existing shards are never rewritten. The growing-corpus maintenance
   * path: build once, append per shard, [[maintainIndex]] rebalances or
   * folds only when its bounds call for it.
   *
   * EXACTLY-ONCE per shard id: the shard becomes reader-visible only when
   * its commit marker lands; a replayed append of a committed shard id
   * returns false without touching storage, and a retry after a crash
   * mid-write replaces the invisible partial shard. Callers name shards
   * with a stable id (micro-batch id, ingest date, ...) — the same
   * contract as the engine sink's `sinkId`/batch id.
   *
   * @return true if this call committed the shard, false if it was already
   *         committed (replay no-op)
   */
  def appendToIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                    newVectors: DataFrame, shardId: String): Boolean = {
    // gated, not unconditional: appends are the per-micro-batch hot path
    cleanupStaleIfNeeded(spark, path)
    val root = currentRoot(spark, path)
    if (committedShardsIn(spark, root).contains(shardId) ||
        foldedShardsIn(spark, root).contains(shardId)) false
    else {
      val centroids = spark.read.parquet(s"$root/centroids")
      writeShard(spark, root, nearestCells(newVectors, centroids, 1), shardId)
      true
    }
  }

  /** Per-cell occupancy of the committed index — the health signal that
    * schedules a [[rebalanceIndex]] (a cell holding a disproportionate
    * share of the corpus degrades every probe that hits it). */
  def indexStats(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    readIndexCells(spark, path)
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))

  /**
   * Occupancy-triggered rebuild — the maintenance policy that closes the
   * loop on [[indexStats]], same condition/action shape as the engine's
   * `maintainTopic` (compact when a bound is exceeded): when the fullest
   * cell holds more than `maxCellShareMicro`/1e6 of the corpus, re-assign
   * EVERY stored vector to `newCentroids` (typically a fresh k-means over
   * the grown corpus, e.g. [[Clustering]]'s) and rewrite the index;
   * otherwise do nothing. The rewrite is O(corpus) — paid only when
   * triggered; appends stay O(shard) the rest of the time.
   *
   * The occupancy check reads one count per cell (≤ |centroids| rows to
   * the driver). The rewrite stages a fresh version and installs it with
   * one pointer flip — readers see the old index or the new one, never an
   * empty or partial state.
   *
   * @return true if the index was rebuilt
   */
  def rebalanceIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                     newCentroids: DataFrame,
                     maxCellShareMicro: Long = 250000L): Boolean =
    if (!isSkewed(spark, path, maxCellShareMicro)) false
    else { rebuildWith(spark, path, _ => newCentroids); true }

  /** [[rebalanceIndex]] with the re-clustering built in PLUS shard-growth
    * folding: when occupancy skew passes the bound, re-cluster with a
    * deterministic k-means over the stored vectors
    * ([[Clustering.lloydCentroids]] — seeded, no RNG, so the rebuilt index
    * is reproducible); otherwise, when committed shards exceed `maxShards`
    * (months of micro-batch appends → thousands of shard directories and
    * an ever-longer committed list), fold them into a single base shard
    * WITHOUT re-assignment (centroids unchanged — cell identity stable).
    * The zero-argument maintenance policy for a periodic `maintain()`-style
    * cron: both checks are metadata-scale; the O(corpus) rewrite runs only
    * when triggered, and installs via the same staged version + pointer
    * flip. */
  def maintainIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                    k: Int, iters: Int = 3,
                    maxCellShareMicro: Long = 250000L,
                    maxShards: Int = 64): Boolean =
    if (isSkewed(spark, path, maxCellShareMicro)) {
      rebuildWith(spark, path, vectors =>
        Clustering.lloydCentroids(vectors, k, iters)
          .select(col("cid").as("id"), col("cvec").as("vec")))
      true
    } else if (committedShards(spark, path).size > maxShards) {
      foldShards(spark, path)
      true
    } else false

  /** Fold every committed shard into one fresh base shard, centroids and
    * assignments UNCHANGED (a pure relayout — cell identity is stable, so
    * stored (id, vec, vn, cell) rows are rewritten, never re-scored).
    * Bounds the shard-directory count and the committed-marker list that
    * every read resolves. O(corpus) rewrite, atomic install. */
  def foldShards(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    cleanupStale(spark, path)
    val root = currentRoot(spark, path)
    installVersion(spark, path,
      spark.read.parquet(s"$root/centroids"),
      readCellsIn(spark, root, None),
      foldedIds = absorbedShardIds(spark, root))
  }

  private def isSkewed(spark: org.apache.spark.sql.SparkSession, path: String,
                       maxCellShareMicro: Long): Boolean =
    graft.engine.Catalog.retryOnRollRace {
      val occ = indexStats(spark, path).collect().map(_.getAs[Long]("n"))
      val total = occ.sum
      total > 0L && occ.max * 1000000L > maxCellShareMicro * total
    }

  private def rebuildWith(spark: org.apache.spark.sql.SparkSession, path: String,
                          centroidsOf: DataFrame => DataFrame): Unit = {
    // Stage the rebuilt index as the NEXT VERSION beside the live one (the
    // live version stays intact — and is the rebuild's input — until the
    // pointer flips). Never stage the corpus only in executor memory: a
    // localCheckpoint is non-fault-tolerant, and this rewrite must survive
    // a crash at any step with a readable index on disk.
    cleanupStale(spark, path)
    val root = currentRoot(spark, path)
    val vectors = readCellsIn(spark, root, None).select(col("id"), col("vec"))
    val centroids = centroidsOf(vectors)
    installVersion(spark, path, centroids, nearestCells(vectors, centroids, 1),
      foldedIds = absorbedShardIds(spark, root))
  }

  /**
   * Query a persisted index: probed cell ids (a tiny set, ≤ |queries|·nprobe,
   * collected driver-side) become EXPLICIT cell directory paths under the
   * committed shards — guaranteed directory-level pruning; the scan cannot
   * touch an unprobed cell or an uncommitted shard. Results are identical
   * to [[ivfTopK]] over the same corpus/centroids. Rides a concurrent
   * maintenance install via the roll-race retry (re-resolving the live
   * version); the superseded version's grace window covers the returned
   * plan's execution.
   */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                     queries: DataFrame, k: Int, nprobe: Int = 2): DataFrame =
    graft.engine.Catalog.retryOnRollRace {
      val root = currentRoot(spark, path)
      val centroids = spark.read.parquet(s"$root/centroids")
      val probed = nearestCells(queries, centroids, nprobe)
      val cellIds = probed.select(col("cell")).distinct()
        .collect().map(_.getLong(0)).toSeq
      val assigned = readCellsIn(spark, root, Some(cellIds))
      probeAndRank(queries, assigned, centroids, k, nprobe)
    }
}
