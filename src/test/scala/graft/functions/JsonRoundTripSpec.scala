package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins [[SimplifyJsonRoundTrip]] (r17 optimization): the rewrite must be
  * value-identical to the JSON round-trip on every integral edge, must fire
  * (no JSON parse left in the optimized plan), and must refuse the unsafe
  * shapes (floating fields, narrowing casts, nested paths). */
class JsonRoundTripSpec extends SparkSpec {

  private def roundTrip(colName: String) =
    get_json_object(to_json(struct(col(colName).as("k"))), "$.k")

  /** No JSON field lookup left in an optimized plan: neither Spark's node
    * nor the [[JsonField]] that [[RewriteJsonFields]] puts in its place
    * after the fixed point, so a passing check proves the collapse. */
  private def noJsonLookup(opt: String): Boolean =
    !opt.contains("get_json_object") && !opt.contains("json_field")

  test("integral round-trip collapses to the field and stays value-identical") {
    import spark.implicits._
    val vals = Seq[java.lang.Long](0L, 1L, -1L, 42L, -9007199254740993L,
      Long.MaxValue, Long.MinValue, null)
    val df = vals.toDF("v")
      .select(col("v"), roundTrip("v").cast("long").as("rt"))
    val rows = df.collect()
    rows.foreach(r => assert(r.get(0) == r.get(1), s"mismatch: $r"))
    // and the JSON machinery is actually gone from the optimized plan of a
    // NON-FOLDABLE source (a LocalRelation would constant-fold either way —
    // range() is what proves the rule itself fired, including through the
    // alias substitution predicate pushdown performs)
    val ranged = spark.range(100).select((col("id") - 50).as("event_id"))
      .orderBy(col("event_id"))
      .select(to_json(struct(col("event_id").as("eid"))).as("metadata"))
      .filter(get_json_object(col("metadata"), "$.eid").cast("long") % 7 === 0)
    val opt = ranged.queryExecution.optimizedPlan.toString
    assert(noJsonLookup(opt), s"round-trip not collapsed:\n$opt")
    assert(ranged.count() == 15) // -49..49 divisible by 7: -49,-42,…,49
  }

  test("string view of the collapsed field matches the JSON text") {
    import spark.implicits._
    val df = Seq(7L, -12L, 0L).toDF("v").select(roundTrip("v").as("s"))
    assert(df.as[String].collect().toSeq == Seq("7", "-12", "0"))
  }

  test("double/float/bool round-trips collapse and stay value-identical") {
    import spark.implicits._
    // Jackson's generator (fast-writer off, Spark's default) and Spark's
    // cast both print Double.toString / Float.toString — including the
    // quoted NaN / Infinity forms, which every parse path surfaces as the
    // bare text. The edge set covers ±0.0, denormals and E-notation bounds.
    val doubles = Seq[java.lang.Double](0.0, -0.0, 1e-4, 1e20, 1.0 / 3.0,
      math.Pi, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      java.lang.Double.MIN_VALUE, -java.lang.Double.MAX_VALUE, null)
    doubles.toDF("v")
      .select(roundTrip("v").as("rt"), col("v").cast("string").as("c"))
      .collect().foreach(r => assert(r.get(0) == r.get(1), s"double: $r"))
    doubles.map(d => if (d == null) null
      else java.lang.Float.valueOf(d.floatValue())).toDF("v")
      .select(roundTrip("v").as("rt"), col("v").cast("string").as("c"))
      .collect().foreach(r => assert(r.get(0) == r.get(1), s"float: $r"))
    Seq[java.lang.Boolean](true, false, null).toDF("v")
      .select(roundTrip("v").as("rt"), col("v").cast("string").as("c"))
      .collect().foreach(r => assert(r.get(0) == r.get(1), s"bool: $r"))
    // plan-asserted on a non-foldable source: the JSON machinery is gone
    val df = spark.range(2).select((col("id") + lit(0.5)).as("v"))
      .select(roundTrip("v").as("s"))
    val opt = df.queryExecution.optimizedPlan.toString
    assert(noJsonLookup(opt), s"double field must collapse:\n$opt")
  }

  test("string round-trip collapses to the raw field (escape/unescape identity)") {
    import spark.implicits._
    val vals = Seq("", "plain", "with \"quotes\"", "back\\slash", "new\nline",
      "tab\tchar", "unicode é中文 😀", "null", "123", "{\"nested\":1}",
      "[1,2]", " lead/trail ", "a" * 300, null)
    vals.toDF("v").select(roundTrip("v").as("rt"), col("v"))
      .collect().foreach(r => assert(r.get(0) == r.get(1), s"string: $r"))
    val df = spark.range(2).selectExpr("cast(id as string) as v")
      .select(roundTrip("v").as("s"))
    val opt = df.queryExecution.optimizedPlan.toString
    assert(noJsonLookup(opt), s"string field must collapse:\n$opt")
  }

  test("from_json round-trip (the EventBridge matcher shape) collapses per field") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("t", StringType),
      StructField("k", StringType), StructField("missing", StringType)))
    // inline per-access parses — the shape the optimizer's alias
    // substitution leaves in real filter plans (each field reference embeds
    // its own from_json(to_json(...)) copy)
    def parsed = from_json(to_json(struct(col("t").as("t"), col("k").as("k"))), schema)
    val df = spark.range(4).select(col("id").cast("string").as("t"),
      (col("id") + lit(0.5)).as("k"))
      .select(parsed("t").as("t"), parsed("k").as("k"),
        parsed("missing").as("missing"))
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.contains("from_json") && !opt.contains("to_json") &&
      !opt.contains("StructsToJson"), s"from_json round-trip must collapse:\n$opt")
    val rows = df.collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("0", "1", "2", "3"))
    assert(rows.map(_.getString(1)).toSeq == Seq("0.5", "1.5", "2.5", "3.5"))
    assert(rows.forall(_.isNullAt(2)), "never-generated field must be NULL")
  }

  test("from_json round-trip collapses nested structs recursively") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("info",
      StructType(Seq(StructField("t", StringType))))))
    val df = spark.range(3).select(col("id").cast("string").as("ty"))
      .select(from_json(to_json(struct(struct(col("ty").as("t")).as("info"))),
        schema).as("p"))
      .select(col("p.info.t").as("t"))
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.contains("from_json"), s"nested round-trip must collapse:\n$opt")
    assert(df.as[String].collect().toSeq == Seq("0", "1", "2"))
  }

  test("non-collapsible parse fields keep the round-trip") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // decimal-typed generating field: text form is not provably cast-equal
    val dec = spark.range(2).select(col("id").cast("decimal(10,2)").as("v"))
      .select(from_json(to_json(struct(col("v").as("v"))),
        StructType(Seq(StructField("v", StringType))))("v").as("s"))
    val opt = dec.queryExecution.optimizedPlan.toString
    assert(opt.contains("from_json") || opt.contains("StructsToJsonEvaluator"),
      s"decimal field must not collapse:\n$opt")
  }

  test("numeric-shape RLIKE over a double collapses to the finite test, 3VL intact") {
    import spark.implicits._
    val re = "^-?[0-9]+(\\.[0-9]+)?([eE][+-]?[0-9]+)?$"
    val vals = Seq[java.lang.Double](0.0, -0.0, 1e-4, 1e20, math.Pi,
      java.lang.Double.MIN_VALUE, -java.lang.Double.MAX_VALUE,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, null)
    // ground truth computed WITHOUT the rewrite: regex over a concat-built
    // string (the rule only fires on a direct cast), vs the rewritten shape
    val df = vals.toDF("v").select(
      col("v").cast("string").rlike(re).as("rw"),
      concat(col("v").cast("string"), lit("")).rlike(re).as("gt"))
    df.collect().foreach(r => assert(r.get(0) == r.get(1), s"mismatch: $r"))
    // plan-asserted: the regex is gone from the direct-cast form
    val p = spark.range(2).select((col("id") + lit(0.5)).as("v"))
      .filter(col("v").cast("string").rlike(re))
      .queryExecution.optimizedPlan.toString
    assert(!p.contains("RLIKE") && !p.contains("rlike"),
      s"finite-test rewrite must fire:\n$p")
  }

  test("double/float same-width string detours collapse; cross-width do not") {
    import spark.implicits._
    val d = spark.range(2).select((col("id") + lit(0.5)).as("v"))
      .select(col("v").cast("string").cast("double").as("b"))
    assert(!d.queryExecution.optimizedPlan.toString.contains("cast(cast("),
      "double→string→double detour must collapse")
    assert(d.as[Double].collect().toSeq == Seq(0.5, 1.5))
    // float → string → double re-parses the shortest-repr DECIMAL, which is
    // NOT the exact binary widening — must keep the chain
    val f = spark.range(2).select((col("id") + lit(0.1)).cast("float").as("v"))
      .select(col("v").cast("string").cast("double").as("b"))
    assert(f.queryExecution.optimizedPlan.toString.contains("cast(cast("),
      "float→string→double detour must survive")
  }

  test("narrowing casts keep the string detour (error/null vs wrap semantics)") {
    // int → string → byte: the string path errors (ANSI) / nulls (legacy)
    // on overflow while a direct int → byte cast wraps — the rule must
    // leave the narrowing chain alone (plan-asserted)
    val df = spark.range(2).select((col("id") + lit(300)).cast("int").as("v"))
      .select(col("v").cast("string").cast("byte").as("b"))
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("cast(cast("), s"narrowing chain must survive:\n$opt")
  }

  test("nested paths and multi-segment paths are not rewritten") {
    import spark.implicits._
    val df = Seq(5L).toDF("v")
      .select(get_json_object(
        to_json(struct(struct(col("v").as("k")).as("o"))), "$.o.k").as("s"))
    assert(df.as[String].collect().toSeq == Seq("5"))
  }
}
