package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Seeded input generators. Every value is a pure function of the seed and
 * the row's sequence number, so the same seed gives the same inputs, and
 * expected results are computed from the generator, never from the store.
 * Payloads are random bytes (incompressible); no constant strings.
 */
object Gen {
  /** SplitMix64 finalizer: decorrelates (seed, stream, index) triples. */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def payload(seed: Long, seq: Long, size: Int): Array[Byte] = {
    val b = new Array[Byte](size)
    new SplittableRandom(mix(seed, seq)).nextBytes(b)
    b
  }

  /** A uniform field over [0, m): a bijection of `seq` within every block
    * of `m` consecutive sequence numbers, so `field < m/2` selects exactly
    * half of any whole number of blocks. */
  def uniform(seed: Long, seq: Long, m: Int): Int =
    Math.floorMod(seq * 7919L + Math.floorMod(mix(seed, m.toLong), m.toLong), m.toLong).toInt

  val EventSchema: StructType = StructType(Seq(
    StructField("metadata", StringType), StructField("data", BinaryType)))

  /** `ingest_small` events: ~100 B of 4-field JSON, random payload. */
  def smallEvent(seed: Long, seq: Long, payloadBytes: Int): Row = {
    val r = new SplittableRandom(mix(seed ^ 0x5117L, seq))
    val tag = f"${r.nextLong()}%016x${r.nextLong()}%016x"
    val meta = f"""{"seq":$seq,"kind":"kind-${r.nextInt(8)}","score":${r.nextDouble()}%.6f,"tag":"$tag"}"""
    Row(meta, payload(seed, seq, payloadBytes))
  }

  /** `stream_pipeline` events: `level` is uniform over [0, 10) (the
    * stream keeps level < 5: exactly half), `key` feeds the topic's
    * metadata-hash partition selector, `src` its EventBridge validator. */
  def streamEvent(seed: Long, seq: Long, payloadBytes: Int): Row = {
    val r = new SplittableRandom(mix(seed ^ 0x57ea3L, seq))
    val meta = s"""{"seq":$seq,"src":"gen","level":${uniform(seed, seq, 10)},""" +
      s""""key":"k${r.nextInt(4096)}","v":${r.nextInt(1000000)}}"""
    Row(meta, payload(seed, seq, payloadBytes))
  }

  def localFrame(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), EventSchema)

  /** `consume_selective` events as a Spark frame over sequence numbers
    * [from, until): metadata field `sel` (also returned as a column) is
    * uniform over [0, 1000); payloads are random bytes. */
  def consumeFrame(spark: SparkSession, seed: Long, from: Long, until: Long,
                   payloadBytes: Int, slices: Int): DataFrame = {
    val bytes = udf((seq: Long) => payload(seed, seq, payloadBytes))
    val off = Math.floorMod(mix(seed, 1000L), 1000L)
    val sel = pmod(col("id") * 7919L + off, lit(1000L))
    spark.range(from, until, 1, slices).toDF().select(
      concat(lit("{\"seq\":"), col("id"),
        lit(",\"sel\":"), sel,
        lit(",\"grp\":\"g"), pmod(col("id"), lit(16L)),
        lit("\",\"tag\":\""), hex(xxhash64(lit(seed), col("id"))), lit("\"}"))
        .as("metadata"),
      bytes(col("id")).as("data"),
      sel.as("sel"))
  }

  /** Order-independent checksum of an event frame: count, payload bytes and
    * the XOR of per-event xxhash64 of (metadata, data). Used on both the
    * consumed frame and the generator's frame. */
  def digest(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(length(col("data"))), lit(0L)),
      coalesce(bit_xor(xxhash64(col("metadata"), col("data"))), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }
}
