package graft.engine

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.json4s._

/**
 * Producer-side partition selection (reference X1/X2): given an event's
 * metadata and an optional explicitly-requested partition, pick the target
 * partition in [0, n).
 *
 * Semantics ported from `/root/reference/src/DefaultPartitionSelector.hpp:17-50`:
 * an explicit request is honored modulo the partition count; otherwise the
 * default is round-robin and a custom selector derives the partition from
 * metadata (hash partitioning — the Spark-native equivalent of a
 * metadata-driven plugin, invoked at `MofkaProducer.cpp:71`).
 */
sealed trait PartitionSelector {
  /**
   * Partition assignment expression. `requested` is the explicit per-event
   * partition column if the producer supplied one (nullable).
   *
   * A NULL result — a round-robin row with no explicit request, or a
   * selector row whose key is missing — is placed by [[Producer]]'s
   * round-robin fallback (see [[PartitionSelector.RoundRobin]]).
   */
  def assign(metadata: Column, requested: Column, n: Int): Column
  def descriptor: JObject
}

object PartitionSelector {

  /** X1: explicit request honored mod n; otherwise round-robin.
    *
    * Round-robin placement is balanced but is NOT a positional contract:
    * which partition a given row lands on depends on where the batch is
    * staged. A driver-resident batch sends its k-th unplaced row to
    * partition `k mod n`; a distributed one uses
    * `pmod(monotonically_increasing_id(), n)`, which follows Spark's slice
    * layout of the input. Within each partition, ids still follow input
    * order. A caller that needs a row on a given partition asks for it
    * explicitly (a `partition` column) or uses a selector. */
  case object RoundRobin extends PartitionSelector {
    override def assign(metadata: Column, requested: Column, n: Int): Column =
      when(requested.isNotNull, pmod(requested.cast("int"), lit(n)))
    override def descriptor: JObject = TopicConfig.DefaultSelector
  }

  /** X2: metadata-driven — hash of a JSON field path (e.g. `"$.key"`).
    *
    * `assign` (the distributed expression) and `partitionFor` (the eager
    * driver-side twin used by the buffered push() surface) MUST stay
    * bit-identical — a key pushed client-side and the same key produce()d
    * directly have to land on one partition. Keep every ingredient (the
    * get_json_object extraction, xxhash64 seed 42, abs, pmod) paired
    * between the two methods when changing either.
    */
  final case class MetadataHash(fieldPath: String) extends PartitionSelector {
    override def assign(metadata: Column, requested: Column, n: Int): Column = {
      val key = get_json_object(metadata, fieldPath)
      when(requested.isNotNull, pmod(requested.cast("int"), lit(n)))
        .otherwise(pmod(abs(xxhash64(key)), lit(n)).cast("int"))
    }

    /** Eager evaluation of `assign`'s no-request branch through the SAME
      * catalyst expressions (including null-key handling: xxhash64 of a
      * null key yields the seed). java abs/floorMod agree with Spark's
      * Abs/Pmod on longs, including the Long.MinValue wrap. The key is
      * extracted by the expression the optimizer puts in `assign`'s place
      * ([[graft.functions.JsonField.extract]]: the field scanner for a
      * plain dotted path, `GetJsonObject` otherwise).
      *
      * The expression tree is compiled ONCE per selector (the push hot loop
      * must not re-build the extraction/XxHash64 and re-parse the JSON path
      * per record); the bound input row is reused — callers serialize
      * (Producer.push is synchronized). */
    @transient private lazy val hashOf: String => Long = {
      import org.apache.spark.sql.catalyst.expressions.{BoundReference, XxHash64}
      import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
      import org.apache.spark.sql.types.StringType
      val expr = XxHash64(Seq(graft.functions.JsonField.extract(
        BoundReference(0, StringType, nullable = true), fieldPath)), 42L)
      val row = new GenericInternalRow(1)
      md => {
        row.update(0, org.apache.spark.unsafe.types.UTF8String.fromString(md))
        expr.eval(row).asInstanceOf[Long]
      }
    }

    def partitionFor(metadataJson: String, n: Int): Int =
      math.floorMod(math.abs(hashOf(metadataJson)), n.toLong).toInt

    override def descriptor: JObject = JObject(
      "type" -> JString("metadata_hash"), "field" -> JString(fieldPath))
  }

  /** X2 variant: partition = integer metadata field modulo n — for workloads
    * that carry their own shard key (unlike [[MetadataHash]], reproducible
    * in plain SQL, so oracle-checkable end-to-end).
    *
    * Failure semantics are UNIFORM across both API surfaces: a missing or
    * non-numeric field yields a null key (`try_cast`, ANSI-independent), and
    * the null assignment falls back to round-robin — in `produce()` via the
    * Producer's coalesce, in `push()` via [[keyFor]] returning None. Keep
    * `assign` and `keyFor` paired (same extraction, same cast family).
    */
  final case class FieldMod(fieldPath: String) extends PartitionSelector {
    override def assign(metadata: Column, requested: Column, n: Int): Column = {
      val key = get_json_object(metadata, fieldPath).try_cast("long")
      when(requested.isNotNull, pmod(requested.cast("int"), lit(n)))
        .otherwise(pmod(key, lit(n)).cast("int"))
    }

    /** Eager twin of `assign`'s no-request branch, through the SAME catalyst
      * expressions (the extraction of [[MetadataHash.hashOf]] + TRY-mode
      * Cast): Some(key mod n) when the field parses, None when missing or
      * malformed. Compiled once per selector (same hot-loop rationale);
      * the reused row is safe because Producer.push serializes callers. */
    @transient private lazy val longOf: String => Option[Long] = {
      import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode}
      import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
      import org.apache.spark.sql.types.{LongType, StringType}
      val expr = Cast(graft.functions.JsonField.extract(
        BoundReference(0, StringType, nullable = true), fieldPath), LongType, None, EvalMode.TRY)
      val row = new GenericInternalRow(1)
      md => {
        row.update(0, org.apache.spark.unsafe.types.UTF8String.fromString(md))
        Option(expr.eval(row)).map(_.asInstanceOf[Long])
      }
    }

    def keyFor(metadataJson: String, n: Int): Option[Int] =
      longOf(metadataJson).map(l => math.floorMod(l, n.toLong).toInt)

    override def descriptor: JObject = JObject(
      "type" -> JString("metadata_field_mod"), "field" -> JString(fieldPath))
  }

  def fromDescriptor(desc: JObject): PartitionSelector = desc \ "type" match {
    case JString("roundrobin") | JNothing => RoundRobin
    case JString("metadata_hash") => desc \ "field" match {
      case JString(f) => MetadataHash(f)
      case _ => throw new IllegalArgumentException("metadata_hash selector needs 'field'")
    }
    case JString("metadata_field_mod") => desc \ "field" match {
      case JString(f) => FieldMod(f)
      case _ => throw new IllegalArgumentException("metadata_field_mod selector needs 'field'")
    }
    case other => throw new IllegalArgumentException(
      s"unknown selector type: ${org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(other))}")
  }
}
