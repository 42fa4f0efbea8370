package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.json4s._
import org.json4s.jackson.JsonMethods

/**
 * The per-partition chunk-file list — the engine's analog of the
 * reference's chunk index (`DefaultPartitionManager.cpp:682-735`) and the
 * ONE format of every file inventory the catalog keeps: the hot manifest
 * ([[TopicManifest]]), the cold tier and shallow clones ([[TierState]]).
 * This module alone decides how such a list is stored, read and pruned.
 *
 * A list lives in one of two shapes:
 *  - driver-sized: every entry in the owning JSON's `files` map;
 *  - past [[Catalog.manifestDriverMax]] entries: a parquet relation
 *    `(partition, path, lo, hi)` named by the JSON's `filesRef`, plus a
 *    driver-held tail in `files` (entries added since the relation was
 *    written). The live set is relation ∪ tail; planners prune the relation
 *    with one join and collect only the entries they keep.
 */
object ChunkFiles {
  type Files = Map[Int, Vector[ManifestFile]]

  /** Schema of a spilled list's relation. */
  val Schema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("partition", IntegerType, nullable = false),
      StructField("path", StringType, nullable = false),
      StructField("lo", LongType, nullable = false),
      StructField("hi", LongType, nullable = false)))
  }

  /** `b`'s entries appended per partition after `a`'s (commit order). */
  def merge(a: Files, b: Files): Files =
    b.foldLeft(a) { case (acc, (p, add)) =>
      acc + (p -> (acc.getOrElse(p, Vector.empty) ++ add))
    }

  // -- JSON codec of the `files` map -----------------------------------------

  def toJValue(files: Files): JValue =
    JObject(files.toSeq.sortBy(_._1).map { case (p, fsq) =>
      p.toString -> (JArray(fsq.toList.map(f => JObject(
        "f" -> JString(f.path), "lo" -> JLong(f.lo), "hi" -> JLong(f.hi)))): JValue)
    }: _*)

  private[engine] def jsonLong(j: JValue, what: String): Long = j match {
    case JInt(v) => v.toLong
    case JLong(v) => v
    case other => throw new IllegalStateException(
      s"bad manifest $what: ${JsonMethods.compact(other)}")
  }

  def fromJValue(j: JValue): Files = j match {
    case JObject(fields) => fields.map { case (p, v) =>
      p.toInt -> (v match {
        case JArray(xs) => xs.map {
          case f: JObject =>
            val path = f \ "f" match {
              case JString(s) => s
              case other => throw new IllegalStateException(
                s"bad manifest file path: ${JsonMethods.compact(other)}")
            }
            ManifestFile(path, jsonLong(f \ "lo", "lo"), jsonLong(f \ "hi", "hi"))
          case other => throw new IllegalStateException(
            s"bad manifest file entry: ${JsonMethods.compact(other)}")
        }.toVector
        case other => throw new IllegalStateException(
          s"bad manifest file list: ${JsonMethods.compact(other)}")
      })
    }.toMap
    case other => throw new IllegalStateException(
      s"bad manifest files: ${JsonMethods.compact(other)}")
  }

  // -- relation: writer, reader, materialiser ----------------------------------

  /** The relation `ref` (relative to `dir`), None for a driver-sized list. */
  def relation(spark: org.apache.spark.sql.SparkSession, dir: Path,
               ref: Option[String]): Option[DataFrame] =
    ref.map(r => spark.read.schema(Schema).parquet(new Path(dir, r).toString))

  /** A driver-held list as a relation of [[Schema]]'s columns. */
  def toDF(spark: org.apache.spark.sql.SparkSession, files: Files): DataFrame = {
    import spark.implicits._
    files.toSeq.flatMap { case (p, fsq) => fsq.map(f => (p, f.path, f.lo, f.hi)) }
      .toDF("partition", "path", "lo", "hi")
  }

  /** The spill writer: store the list `prior ∪ files`. With no prior
    * relation and at most [[Catalog.manifestDriverMax]] entries it stays on
    * the driver — returns `(files, None)` and runs no Spark job. Otherwise
    * the union is written as ONE relation `dir/refName` and `(∅,
    * Some(refName))` is returned: once a list crosses the threshold it stays
    * a relation (shrinking back would re-materialize it to find out), and
    * nothing O(prior) ever reaches the driver. `refName` must be fresh —
    * relations are immutable by name. */
  def store(spark: org.apache.spark.sql.SparkSession, dir: Path, refName: String,
            prior: Seq[DataFrame], files: Files): (Files, Option[String]) =
    if (prior.isEmpty &&
        files.valuesIterator.map(_.size.toLong).sum <= Catalog.manifestDriverMax(spark))
      (files, None)
    else {
      (prior :+ toDF(spark, files)).reduce(_ unionByName _)
        .coalesce(1).write.mode("overwrite")
        .parquet(new Path(dir, refName).toString)
      (Map.empty, Some(refName))
    }

  /** Collect a relation of [[Schema]]'s columns (usually already filtered)
    * into per-partition lists, in collected order. */
  def collect(rel: DataFrame): Files =
    rel.select("partition", "path", "lo", "hi").collect()
      .map(r => (r.getInt(0), ManifestFile(r.getString(1), r.getLong(2), r.getLong(3))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toVector).toMap

  /** Every entry of `rel ∪ tail`, materialized — maintenance surfaces whose
    * work is proportional to the list anyway; planners use [[slice]]. */
  def all(rel: Option[DataFrame], tail: Files): Files =
    merge(rel.map(collect).getOrElse(Map.empty), tail)

  /** The slice pruner: per partition of `bounds` `(partition, lo, hi)`, the
    * entries of `rel ∪ tail` whose id range overlaps `[lo, hi)` — kept
    * relation entries first, in id order `(lo, path)` (collected row order
    * is not guaranteed), then overlapping tail entries in stored order.
    * The relation is pruned by ONE broadcast join against the bounds, so
    * only kept entries are collected; a driver-sized list runs no Spark job.
    * Partitions with nothing overlapping are absent. */
  def slice(rel: Option[DataFrame], tail: Files, bounds: Seq[(Int, Long, Long)]): Files = {
    val fromRel: Files = rel match {
      case Some(r) if bounds.nonEmpty =>
        val spark = r.sparkSession
        import spark.implicits._
        import org.apache.spark.sql.functions.{broadcast, col}
        collect(r.join(broadcast(bounds.toDF("p", "plo", "phi")),
          col("partition") === col("p") &&
            col("hi") >= col("plo") && col("lo") < col("phi")))
          .view.mapValues(_.sortBy(f => (f.lo, f.path))).toMap
      case _ => Map.empty
    }
    bounds.flatMap { case (p, lo, hi) =>
      val kept = fromRel.getOrElse(p, Vector.empty) ++
        tail.getOrElse(p, Vector.empty).filter(f => f.hi >= lo && f.lo < hi)
      if (kept.isEmpty) None else Some(p -> kept)
    }.toMap
  }
}
