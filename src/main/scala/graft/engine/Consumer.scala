package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.DataView

/**
 * Consumer-side payload selection (reference F4/P1,
 * `/root/reference/src/MofkaConsumer.cpp:240-259`): a predicate over the
 * event's metadata decides, per event, whether the payload ships as the
 * configured byte [[DataView]] or as the `otherwise` view (default: no
 * bytes).
 *
 * In Spark the "laziness" of the reference's two-phase metadata-then-data
 * fetch becomes physical, not procedural: when both branches select nothing
 * the `data` column is never read from Parquet (column pruning), and the
 * predicate is an ordinary pushdown-eligible filter expression.
 *
 * The predicate runs once per event, so its field lookups are the per-event
 * cost of a selective read: `get_json_object(metadata, '$.a.b')` with a
 * plain dotted path is evaluated by [[graft.functions.JsonField]]'s byte
 * scanner, which hands only documents it cannot prove (escapes,
 * non-ASCII, floats as the answer, …) to Spark's JSON parser.
 */
sealed trait DataSelector {
  /** The payload expression over (metadata, data). */
  def dataColumn(metadata: Column, data: Column): Column
}

object DataSelector {
  import graft.functions.EventView

  /**
   * The general form of the reference's arbitrary selector lambda: an
   * ORDERED list of (predicate over metadata → view); the first matching
   * predicate decides the event's view, no match → `default`. Views may be
   * static [[DataView]]s or metadata-parameterized [[EventView]]s, so the
   * reference's shipped three-way example
   * (`/root/reference/example/consumer.cpp:38-49`: full data / subview /
   * nothing, dispatched per event) is directly expressible — as are views
   * whose offsets come from metadata fields.
   *
   * Compiles to one nested `when` chain — a plain codegen'd Column tree; if
   * every branch provably selects nothing the data column is never read
   * from Parquet at all (column pruning, reference P1).
   */
  final case class Cases(
      cases: Seq[(Column => Column, EventView)],
      default: EventView = EventView.Static(DataView.Empty)) extends DataSelector {
    override def dataColumn(metadata: Column, data: Column): Column =
      if (default.isStaticallyEmpty && cases.forall(_._2.isStaticallyEmpty))
        lit(Array.empty[Byte]) // metadata-only: data never read
      else cases.foldRight(default.toColumn(metadata, data)) {
        case ((pred, v), els) => when(pred(metadata), v.toColumn(metadata, data)).otherwise(els)
      }
  }

  /** The original two-way surface: predicate true → `view`, else `otherwise`. */
  def apply(predicate: Column => Column, view: DataView,
            otherwise: DataView = DataView.Empty): DataSelector =
    Cases(Seq(predicate -> EventView.Static(view)), EventView.Static(otherwise))

  /** Ship the full payload for every event (a fresh DataDescriptor). */
  val All: DataSelector = DataSelector(_ => lit(true), DataView.Full, DataView.Full)
  /** Metadata-only consumption (reference P1): never fetch payload bytes. */
  val MetadataOnly: DataSelector = DataSelector(_ => lit(false), DataView.Empty)
}

/** One consumed event (the reference's `MofkaEvent`,
  * `include/mofka/MofkaEvent.hpp:20-84`). */
final case class ConsumedEvent(
    partition: Int, eventId: Long, metadata: String, data: Array[Byte])

/** `pull()` outcome: an event, nothing-yet, or end-of-stream. */
sealed trait Pull
object Pull {
  final case class Next(event: ConsumedEvent) extends Pull
  /** Topic not completed and no new events at the moment. */
  case object Empty extends Pull
  /** Topic completed and the cursor walk is drained
    * (`MofkaConsumer.cpp:117-132`). */
  case object NoMoreEvents extends Pull
}

/**
 * Consumer (reference D1-D6): a named cursor walk over the topic log.
 *
 *  - subscribe ≡ construction: the walk starts at the persisted acknowledge
 *    cursor for this consumer name (`DefaultPartitionManager.cpp:425-427`) —
 *    at-least-once: un-acked events reappear for a re-created consumer;
 *  - `acknowledge(e)` persists `event_id + 1`
 *    (`DefaultPartitionManager.cpp:506-514`);
 *  - `pull()` returns [[Pull.NoMoreEvents]] once the topic is completed and
 *    every target partition is drained;
 *  - `events()` is the engine-native surface: the same walk as one DataFrame
 *    (use this for analytics; `pull()` is the API-parity iterator).
 */
final class Consumer(
    spark: SparkSession,
    catalog: Catalog,
    config: TopicConfig,
    val name: String,
    targets: Seq[Int],
    selector: Option[DataSelector],
    batchSize: Option[Int] = None) {

  private val topic = config.name
  private val serializer = Serializer.fromDescriptor(config.serializer)
  private val targetList: Seq[Int] =
    if (targets.nonEmpty) targets.map(p => math.floorMod(p, config.partitions)).distinct.sorted
    else 0 until config.partitions

  /** Local walk position per partition (server-side feed cursor; starts at
    * the acknowledge cursor, advances on pull regardless of acks). */
  private val position: scala.collection.mutable.Map[Int, Long] = {
    val acked = catalog.cursor(topic, name)
    scala.collection.mutable.Map(targetList.map(p => p -> acked.getOrElse(p, 0L)): _*)
  }

  private var buffered: Iterator[ConsumedEvent] = Iterator.empty

  /**
   * Un-pulled events from the given per-partition floor as one DataFrame,
   * with the DataSelector applied, over the committed log as the catalog
   * defines it (hot ∪ cold, minus vector-deleted rows). Partition pruning
   * (`partition IN ...`) and the id floor are pushdown-eligible filters.
   */
  def eventsFrom(floor: Map[Int, Long]): DataFrame = {
    val base = catalog.fullLogDF(topic).map(catalog.applyDeleteVectors(topic, _))
      .getOrElse(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Catalog.EventSchema))
      .filter(col("partition").isin(targetList: _*))
    val cursored =
      if (floor.isEmpty || floor.values.forall(_ == 0L)) base
      else base.filter(col("event_id") >=
        coalesce(element_at(typedLit(floor), col("partition")), lit(0L)))
    // Z1: decode the stored form back to logical metadata BEFORE the data
    // selector runs — predicates always see JSON text regardless of the
    // topic's serializer. Json is identity, so default topics keep metadata
    // pushdown untouched.
    val decoded = serializer.decodeMetadataDf(cursored)
    val withData = selector match {
      case None => decoded
      case Some(sel) => decoded.withColumn("data",
        sel.dataColumn(col("metadata"), col("data")))
    }
    withData.select(col("partition"), col("event_id"), col("metadata"), col("data"))
  }

  /** The consumer's view: everything at or after the acknowledge cursor. */
  def events(): DataFrame = eventsFrom(catalog.cursor(topic, name))

  /** D1 `pull` — next event (partition-ordered, interleaved across
    * partitions by partition id), or Empty/NoMoreEvents. */
  def pull(): Pull = synchronized {
    if (!buffered.hasNext) refresh()
    if (buffered.hasNext) Pull.Next(buffered.next())
    else if (catalog.openTopic(topic).completed) Pull.NoMoreEvents
    else Pull.Empty
  }

  /** D4 `acknowledge`. */
  def acknowledge(e: ConsumedEvent): Unit =
    catalog.acknowledge(topic, name, e.partition, e.eventId)

  /** D2 `unsubscribe` — drops locally buffered, un-pulled events. */
  def unsubscribe(): Unit = synchronized { buffered = Iterator.empty }

  /**
   * D6 `Consumer.process` — apply `f` to every remaining event (the
   * reference's callback consumption, declared-but-unimplemented at
   * `include/mofka/MofkaConsumer.hpp:153-163`). This parity surface collects
   * to the driver; the scalable path is `events()` + `foreachBatch`.
   */
  def process(f: ConsumedEvent => Unit): Unit = synchronized {
    // one pass, bounded driver memory: toLocalIterator streams partition
    // results instead of collecting the whole remaining log (and unlike a
    // limit-loop, never rescans what was already processed)
    val it = eventsFrom(position.toMap)
      .orderBy(col("partition"), col("event_id"))
      .toLocalIterator()
    while (it.hasNext) {
      val e = rowToEvent(it.next())
      position(e.partition) = math.max(position.getOrElse(e.partition, 0L), e.eventId + 1)
      f(e)
    }
  }

  private def refresh(): Unit = {
    val floor = position.toMap
    val walk = eventsFrom(floor).orderBy(col("partition"), col("event_id"))
    // batchSize bounds one feed (the reference consumer's batch size, D3);
    // the next pull() past the buffer triggers the next feed. No explicit
    // size → a bounded default: the reference ALWAYS feeds in batches
    // (`YokanEventStore.hpp:141-142`), and an unbounded default would
    // collect the whole remaining log to the driver.
    val rows = walk.limit(batchSize.getOrElse(Consumer.DefaultBatchSize)).collect()
    rows.foreach { r =>
      val p = r.getAs[Int]("partition"); val id = r.getAs[Long]("event_id")
      position(p) = math.max(position.getOrElse(p, 0L), id + 1)
    }
    buffered = rows.iterator.map(rowToEvent)
  }

  private def rowToEvent(r: Row): ConsumedEvent =
    ConsumedEvent(r.getAs[Int]("partition"), r.getAs[Long]("event_id"),
      r.getAs[String]("metadata"), r.getAs[Array[Byte]]("data"))
}

object Consumer {
  /** Events per pull-refresh when the caller sets no batchSize — keeps the
    * parity iterator's driver memory bounded regardless of log size. */
  val DefaultBatchSize: Int = 1024
}
