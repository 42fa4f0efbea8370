package org.apache.spark.sql.graftshim

import org.apache.hadoop.conf.Configuration

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.util.SerializableConfiguration

/** Column ⇄ Expression bridge. `classic.ExpressionUtils` is `private[sql]`,
  * so this one-file shim lives under the org.apache.spark.sql namespace —
  * the standard pattern for connector libraries that define native
  * Catalyst expressions. */
object Shims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Rewrap a micro-batch's physical rows as a plain (non-streaming)
    * DataFrame. A DSv1 `Sink.addBatch` receives a DataFrame whose logical
    * plan still contains the streaming source relation, so running new
    * actions on it trips the analyzer ("queries with streaming sources must
    * be executed with writeStream.start()"); sinks that re-process the
    * batch (Delta's does the same) take `queryExecution.toRdd` and rebuild
    * a batch DataFrame around it. `internalCreateDataFrame` is
    * `private[sql]`, hence this shim. A checkpointed frame (a plain
    * `LogicalRDD`) hands over its RDD as is, with no planning. */
  def asBatchDataFrame(
      spark: org.apache.spark.sql.SparkSession,
      data: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val rows = data.queryExecution.logical match {
      case r: LogicalRDD if !r.isStreaming => r.rdd
      case _ => data.queryExecution.toRdd
    }
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, data.schema)
  }

  /** The session's Hadoop configuration with its SQL confs folded in — the
    * base a file writer's job conf starts from. */
  def newHadoopConf(spark: org.apache.spark.sql.SparkSession): Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConf()

  /** Make `to`'s SQL conf equal `from`'s, except the keys in `keep` (which
    * `to` pins). Goes through `SQLConf` directly: `RuntimeConfig.set`
    * refuses static keys, which a full copy necessarily carries. */
  def syncSqlConf(from: org.apache.spark.sql.SparkSession,
                  to: org.apache.spark.sql.SparkSession,
                  keep: Set[String]): Unit = {
    def conf(s: org.apache.spark.sql.SparkSession) =
      s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf
    val src = conf(from).getAllConfs
    val dst = conf(to)
    src.foreach { case (k, v) =>
      if (!keep(k) && dst.getConfString(k, null) != v) dst.setConfString(k, v)
    }
    dst.getAllConfs.keysIterator.foreach { k =>
      if (!keep(k) && !src.contains(k)) dst.unsetConf(k)
    }
  }

  /** A Hadoop configuration broadcast to the executors: each executor
    * deserializes it once, not once per task (`SerializableConfiguration`
    * is `private[spark]`, hence the wrapper). */
  final class HadoopConfBroadcast private[Shims] (
      bc: Broadcast[SerializableConfiguration]) extends Serializable {
    def value: Configuration = bc.value.value
  }

  def broadcastHadoopConf(sc: SparkContext, conf: Configuration): HadoopConfBroadcast =
    new HadoopConfBroadcast(sc.broadcast(new SerializableConfiguration(conf)))

  /** Returns once the listener bus (`private[spark]`) has delivered every
    * event posted before the call, so a listener's counts are complete. */
  def awaitListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
