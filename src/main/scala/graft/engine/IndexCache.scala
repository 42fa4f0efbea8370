package graft.engine

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/**
 * Driver-side read-through cache for SMALL index relations (zone-map and
 * bloom directories) — the pruning planner's analog of the driver-resident
 * manifest (guide §6: repeated metadata reads are driver-side cost).
 *
 * A small topic's index is collected to the driver on every refresh and on
 * every pruning plan — each a full Spark job (plan/submit/scan cycle) over
 * a file of a few KB, and a meta-index fixture pays that cycle 4-6 times.
 * The collected rows are memoized per index DIRECTORY, keyed by the exact
 * installed file identity (name + length + mtime of every file in the
 * dir): any install — by this process or another — changes the part-file
 * names (Spark writes fresh UUID-named parts) and therefore the signature,
 * so a stale hit is impossible without bypassing [[IndexInstall]].
 *
 * This caches engine METADATA (per-file statistics, the same scale class
 * and lifecycle as the manifest), never event rows or query results: every
 * pruned read still scans its kept parquet files, and the pruning decision
 * is recomputed from these rows on every call. Only the driver-plan path
 * uses it; large topics keep the distributed join over the index RELATION
 * (the rows never materialize on the driver there).
 */
private[engine] object IndexCache {

  private final case class Entry(sig: String, rows: Seq[Row])

  /** Bounded: an engine session touches a handful of indexes; past the
    * bound the oldest-installed entry goes first. */
  private[engine] val MaxEntries = 256
  // insertion-ordered: the eldest entry is the oldest put
  private val cache = new java.util.LinkedHashMap[String, Entry]()

  private def get(key: String): Entry = cache.synchronized(cache.get(key))

  /** Remember `rows` under `sig` as the newest entry, evicting the oldest
    * one when full. */
  private[engine] def put(key: String, sig: String, rows: Seq[Row]): Unit =
    cache.synchronized {
      cache.remove(key)
      if (cache.size >= MaxEntries) cache.remove(cache.keySet.iterator.next())
      cache.put(key, Entry(sig, rows)): Unit
    }

  /** Test seam: called between a miss's signature and its collect. */
  @volatile private[engine] var afterSignature: Path => Unit = _ => ()

  private def signature(fs: FileSystem, dir: Path): String =
    fs.listStatus(dir).filter(_.isFile)
      .map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
      .sorted.mkString(";")

  /** Collected rows of an index dir (empty if absent), re-read only when
    * the installed files change. The rows are cached only if the signature
    * still holds after the collect: an install landing between the two
    * would otherwise cache the new rows under the old signature. */
  def rows(spark: SparkSession, fs: FileSystem, dir: Path,
           schema: StructType): Seq[Row] = {
    if (!fs.exists(dir)) return Seq.empty
    val sig = signature(fs, dir)
    val key = dir.toString
    val hit = get(key)
    if (hit != null && hit.sig == sig) hit.rows
    else {
      afterSignature(dir)
      val fresh = spark.read.schema(schema).parquet(key).collect().toSeq
      val unchanged =
        try signature(fs, dir) == sig
        catch { case _: java.io.FileNotFoundException => false }
      if (unchanged) put(key, sig, fresh)
      fresh
    }
  }

  /** Cache-only peek (no Spark job, no population): the head row if this
    * dir's CURRENT content is already cached — for identity/parameter
    * checks on paths that must not collect a potentially large relation. */
  def cachedHead(fs: FileSystem, dir: Path): Option[Row] = {
    if (!fs.exists(dir)) return None
    val hit = get(dir.toString)
    if (hit != null && hit.sig == signature(fs, dir)) hit.rows.headOption
    else None
  }
}
