package graft.engine

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.engine.PartitionSelector.{FieldMod, MetadataHash}

/** The push-side twins of the metadata selectors place every key where
  * the distributed `assign` of produce() does. */
class PartitionSelectorsSpec extends SparkSpec {

  private val Partitions = 7

  // documents the field scanner answers, then ones it hands to Spark
  private val Docs = Seq(
    """{"key":"alpha"}""", """{"key":42}""", """ {"key" : -7, "x":[1,{"y":2}]} """,
    """{"key":true}""", """{"key":null}""", """{"other":1}""", """{"key":""}""",
    """{"g":{"key":"inner"}}""", """{"g":{"key":905}}""",
    """{"key":"es\"caped"}""", """{"key":"café"}""", """{"key":"é"}""",
    """{"key":1.5}""", """{"key":1e3}""", """{"key":12345678901234567890}""",
    """{"key":1,"key":2}""", """{"key":null,"key":"x"}""",
    """{"key":{"n":1}}""", """{"key":[1,2]}""", """{'key':'sq'}""",
    """{"g":{"key":1},"g":{"key":2}}""", """{"key":3} trailing""", "not json", null)

  Seq("$.key", "$.g.key").foreach { path =>
    test(s"partitionFor and keyFor equal the distributed assign on $path") {
      import spark.implicits._
      // an RDD, not a local Seq, so the optimizer's rewrite runs before
      // anything is evaluated
      val mds = spark.sparkContext.parallelize(Docs, 2).toDF("md")
      Seq(MetadataHash(path), FieldMod(path)).foreach { sel =>
        val df = mds.select(col("md"),
          sel.assign(col("md"), lit(null).cast("int"), Partitions).as("p"))
        assert(df.queryExecution.optimizedPlan.toString.contains("json_field"),
          df.queryExecution.optimizedPlan.toString)
        df.collect().foreach { r =>
          val md = r.getString(0)
          val assigned = if (r.isNullAt(1)) None else Some(r.getInt(1))
          val pushed = sel match {
            case h: MetadataHash => Some(h.partitionFor(md, Partitions))
            case f: FieldMod => f.keyFor(md, Partitions)
            case other => fail(s"no push-side twin for $other")
          }
          assert(pushed == assigned, s"$sel on $md")
        }
      }
    }
  }
}
