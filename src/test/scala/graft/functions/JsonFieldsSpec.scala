package graft.functions

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.core.{JsonFactoryBuilder, JsonProcessingException}
import com.fasterxml.jackson.core.json.JsonReadFeature

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec

/** Seeded JSON documents for the differential: a mix of documents the
  * field scanner must answer (standard JSON, ASCII strings) and documents
  * it must hand to Spark (escapes, single quotes, raw control characters,
  * non-ASCII and invalid UTF-8, odd numbers, non-objects, truncated or
  * trailing input, nesting past the scanner's bound). Keys come from a
  * small alphabet so paths hit, miss and repeat. */
final class JsonDocGen(seed: Long) {
  private val r = new scala.util.Random(seed)
  private val out = new ByteArrayOutputStream()
  private var noisy = false

  private def emit(s: String): Unit = out.write(s.getBytes(UTF_8))
  private def raw(bytes: Int*): Unit = bytes.foreach(out.write)
  private def odd(oneIn: Int): Boolean = noisy && r.nextInt(oneIn) == 0

  private def ws(): Unit = r.nextInt(8) match {
    case 0 => emit(" ")
    case 1 => emit("\n  ")
    case 2 => emit("\t")
    case 3 => emit("\r\n ")
    case 4 if odd(6) => emit(if (r.nextBoolean()) "\u000b" else "\f") // not JSON whitespace
    case _ => ()
  }

  private val Names = Array("a", "b", "c", "d", "e")
  private def word(): String = r.alphanumeric.take(r.nextInt(8)).mkString

  /** Emits a key; true when it is the path's key at this depth. */
  private def key(depth: Int, first: Boolean): Boolean =
    if (odd(5)) {
      emit(r.nextInt(7) match {
        case 0 => "\"\\u0061\"" // "a" spelled with an escape
        case 1 => "'a'"
        case 2 => "\"a\\\"\""
        case 3 => "\"\""
        case 4 => "\"\u00e9\""
        case 5 => "\"a\tb\""
        case _ => "\"b\\/\""
      })
      false
    } else if (first && depth <= 3 && r.nextInt(10) < 7) {
      emit("\"" + Names(depth - 1) + "\""); true
    } else {
      emit("\"" + Names(r.nextInt(Names.length)) + "\""); false
    }

  private def string(): Unit =
    if (odd(3)) r.nextInt(12) match {
      case 0 => emit("\"q\\\"uote\"")
      case 1 => emit("\"back\\\\slash\"")
      case 2 => emit("\"sl\\/ash\"")
      case 3 => emit("\"\\u00e9\\u4e2d\\ud83d\\ude00\\u0041\"")
      case 4 => emit("'single'")
      case 5 => emit("\"tab\there\"")
      case 6 => emit("\"nl\nx\u0001\"")
      case 7 => emit("\"utf8 \u00e9\u4e2d\ud83d\ude00\"")
      case 8 => raw('"', 0xc3, 'x', '"') // truncated two-byte sequence
      case 9 => raw('"', 0xff, 0xfe, '"')
      case 10 => raw('"', 0xed, 0xa0, 0x80, '"') // encoded surrogate
      case _ => emit("'it\\'s'")
    }
    else r.nextInt(10) match {
      case 0 => emit("\"\"")
      case 1 => emit("\"del\u007f ~!@#$%^&*()[]{}:,'\"")
      case _ => emit("\"" + word() + "\"")
    }

  private def digits(n: Int): String =
    (1 + r.nextInt(9)).toString + (1 until n).map(_ => ('0' + r.nextInt(10)).toChar).mkString

  private def number(): Unit = emit(r.nextInt(26) match {
    case 0 => "-0"
    case 1 => "0"
    case 2 => "-0.0"
    case 3 => "1.5"
    case 4 => "1e5"
    case 5 => "2E-3"
    case 6 => "-1.0e+2"
    case 7 => "9223372036854775807"
    case 8 => "9223372036854775808"
    case 9 => "-9223372036854775809"
    case 10 => digits(18)
    case 11 => "-" + digits(18)
    case 12 => digits(19)
    case 13 => digits(30)
    case 14 if noisy => Seq("007", "-01", "1.", ".5", "+1", "NaN", "Infinity", "-Infinity",
      "-", "1e", "0x1f", "1_000")(r.nextInt(12))
    case _ => (if (r.nextBoolean()) "-" else "") + digits(1 + r.nextInt(12))
  })

  private def literal(): Unit = emit(
    if (odd(4)) Seq("tru", "nul", "True", "NULL", "falsey", "undefined")(r.nextInt(6))
    else Seq("true", "false", "null", "null")(r.nextInt(4)))

  private def scalar(): Unit = r.nextInt(3) match {
    case 0 => string()
    case 1 => number()
    case _ => literal()
  }

  private def value(depth: Int): Unit = r.nextInt(if (depth > 5) 6 else if (depth < 3) 12 else 10) match {
    case 0 | 1 => string()
    case 2 | 3 => number()
    case 4 | 5 => literal()
    case 9 => array(depth + 1)
    case _ => obj(depth + 1)
  }

  private def obj(depth: Int): Unit = {
    emit("{"); ws()
    // one key in ten repeats an earlier one, null-then-value included
    for (k <- 0 until r.nextInt(5)) {
      if (k > 0) { emit(","); ws() }
      val onPath =
        if (k > 0 && r.nextInt(10) == 0) { emit("\"a\""); false } else key(depth, k == 0)
      ws(); emit(":"); ws()
      // on the path: mostly an object above the leaf level, a scalar at it
      if (onPath && depth < 3 && r.nextInt(10) < 7) obj(depth + 1)
      else if (onPath && depth == 3 && r.nextInt(10) < 7) scalar()
      else value(depth)
      ws()
    }
    if (odd(20)) emit(",")
    emit("}")
  }

  private def array(depth: Int): Unit = {
    emit("["); ws()
    for (k <- 0 until r.nextInt(4)) {
      if (k > 0) { emit(","); ws() }
      value(depth); ws()
    }
    emit("]")
  }

  /** The next document; None stands for a NULL input. */
  def next(): Option[Array[Byte]] = {
    out.reset()
    noisy = r.nextInt(5) < 2
    r.nextInt(100) match {
      case 0 => return None
      case 1 => ()
      case 2 => array(1)
      case 3 => value(6) // a top-level scalar
      case 4 => obj(1)
      case 5 =>
        // nesting beside or below the path, past the bound or within it
        val levels = if (r.nextBoolean()) 70 else 30
        emit("{\"a\":{\"b\":" * (levels / 2))
        emit("{\"c\":1}")
        emit("}" * (levels / 2 * 2))
      case 6 => emit("{\"a\":null,\"a\":{\"b\":{\"c\":\"late\"}}}")
      case 7 => emit("{\"a\":{\"b\":{\"c\":\"x\"}},\"a\":null}")
      case _ => ws(); obj(1); ws()
    }
    val bytes = out.toByteArray
    Some(r.nextInt(30) match {
      case 0 if bytes.nonEmpty => bytes.take(r.nextInt(bytes.length)) // truncated
      case 1 => bytes ++ Seq(" x", "}", " {\"a\":1}", ",")(r.nextInt(4)).getBytes(UTF_8)
      case _ => bytes
    })
  }
}

/** [[JsonField]] against Spark's own `get_json_object` over seeded
  * documents, with whole-stage codegen and fully interpreted: every result
  * must be identical, NULLs included. */
class JsonFieldsSpec extends SparkSpec {

  private val Docs = 100000
  private val Paths = Seq("$.a", "$.a.b", "$.a.b.c")

  private lazy val docs: Vector[Option[Array[Byte]]] = {
    val g = new JsonDocGen(20261018L)
    Vector.fill(Docs)(g.next())
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prior = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `(doc, expected, actual)`: expected is `get_json_object` with the path
    * in a column (never rewritten), actual the literal-path form the
    * optimizer turns into [[JsonField]]. The documents travel as binary and
    * are cast to string, which keeps invalid UTF-8 as is. */
  private def compared(path: String): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(docs.map(d => (d, path)), 4).toDF("bin", "p")
      .select(col("bin").cast("string").as("doc"), col("p"))
      .select(col("doc"), expr("get_json_object(doc, p)").as("expected"),
        get_json_object(col("doc"), path).as("actual"))
  }

  private def mismatches(path: String, codegen: Boolean): (Long, Seq[Row]) = {
    val df = compared(path)
    assert(df.queryExecution.optimizedPlan.toString.contains("json_field"),
      s"literal path not rewritten:\n${df.queryExecution.optimizedPlan}")
    val wscg = df.queryExecution.executedPlan.find(_.isInstanceOf[WholeStageCodegenExec])
    assert(wscg.isDefined == codegen, df.queryExecution.executedPlan.toString)
    val bad = df.where(!(col("expected") <=> col("actual")))
    (bad.count(), bad.limit(5).collect().toSeq)
  }

  private def diff(codegen: Boolean): Unit = Paths.foreach { path =>
    val (n, sample) = mismatches(path, codegen)
    assert(n == 0, s"$path (codegen=$codegen): $n mismatches, e.g.\n" +
      sample.map(r => s"  doc=${r.get(0)} expected=${r.get(1)} actual=${r.get(2)}")
        .mkString("\n"))
  }

  test("the generator covers both sides of the scanner on every path") {
    Paths.foreach { path =>
      val keys = JsonField.fieldsOf(path).get.map(_.getBytes(UTF_8)).toArray
      var answered, values, deferred = 0
      docs.flatten.foreach { d =>
        val r = JsonFields.scan(d, Platform.BYTE_ARRAY_OFFSET.toLong, d.length, keys)
        if (r == JsonFields.Defer) deferred += 1
        else { answered += 1; if (r >= 0) values += 1 }
      }
      assert(answered > Docs / 5 && deferred > Docs / 5 && values > 1000,
        s"$path: answered=$answered (values=$values) deferred=$deferred")
    }
  }

  test("differential against get_json_object with whole-stage codegen") {
    withConf("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY") {
      diff(codegen = true)
    }
  }

  test("differential against get_json_object interpreted") {
    withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      diff(codegen = false)
    }
  }

  test("isDocument: every document the scanner proves whole, Jackson reads whole too") {
    val lenient = new JsonFactoryBuilder()
      .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS)
      .enable(JsonReadFeature.ALLOW_SINGLE_QUOTES)
      .build()
    def jackson(d: Array[Byte]): Boolean = {
      val p = lenient.createParser(d)
      try p.nextToken() != null && { p.skipChildren(); p.nextToken() == null }
      catch { case _: JsonProcessingException => false }
      finally p.close()
    }
    val noKey = Array(Array('"'.toByte))
    var proven, whole = 0
    docs.flatten.foreach { d =>
      if (JsonFields.scan(d, Platform.BYTE_ARRAY_OFFSET.toLong, d.length, noKey) == JsonFields.Absent)
        proven += 1
      val expected = jackson(d)
      if (expected) whole += 1
      assert(JsonFields.isDocument(UTF8String.fromBytes(d)) == expected, new String(d, UTF_8))
    }
    val n = docs.flatten.size
    assert(proven > n / 5 && whole - proven > n / 50 && n - whole > n / 50,
      s"proven=$proven whole=$whole of $n")
  }

  test("hand-picked edges answer like get_json_object") {
    import spark.implicits._
    val cases = Seq(
      """{"a":"x"}""" -> "x", """{"a":""}""" -> "", """ {"a" : 12 } """ -> "12",
      """{"a":-0}""" -> "0", """{"a":1.50}""" -> "1.5", """{"a":1e2}""" -> "100.0",
      """{"a":12345678901234567890}""" -> "12345678901234567890",
      """{"a":true}""" -> "true", """{"a":null}""" -> null, """{"b":1}""" -> null,
      """{"a":null,"a":2}""" -> "2", """{"a":1,"a":2}""" -> "1",
      """{"a":{"b":1}}""" -> """{"b":1}""", """{"a":[1, 2]}""" -> "[1,2]",
      """{"a":"q\"x"}""" -> "q\"x", """{'a':'s'}""" -> "s", """{"a":1} trailing""" -> "1",
      """{"a":1,}""" -> null, """[{"a":1}]""" -> null, "" -> null)
    // an RDD, not a local Seq: the optimizer would evaluate a projection
    // over a local relation before the rewrite runs
    val got = spark.sparkContext.parallelize(cases.map(_._1), 1).toDF("doc")
      .select(get_json_object(col("doc"), "$.a")).as[String].collect().toSeq
    assert(got == cases.map(_._2))
  }
}
