package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods

/**
 * Compiler from the AWS-EventBridge-style pattern language (the reference's
 * `"eventbridge"` validator — grammar exercised in
 * `/root/reference/tests/MofkaEventbridgeTest.cpp:35-120`) to a Catalyst
 * [[Column]] predicate over a JSON-string metadata column.
 *
 * Because the output is a plain `Column` tree built from built-in functions
 * (`get_json_object`, `startswith`, `rlike`, comparisons), Catalyst can push
 * the predicate into scans, fold constants, and keep it inside whole-stage
 * codegen — no UDF, no custom Expression.
 *
 * Grammar (each top-level key is ANDed; a JSON-array value is an OR of
 * matchers):
 *  - exact scalar:              `"a1": "a_value"`, `"e": 42`, `"b": true`
 *  - value-in-list:             `"a2": ["v1", "v2"]`
 *  - nested object:             `"i1": {"i1_1": "v"}` (recursive sub-pattern)
 *  - dotted path:               `"i2.i2_1": "v"`
 *  - `{"prefix": p}` where p is string | [string] | {"equals-ignore-case": string|[string]}
 *  - `{"suffix": s}` same shapes
 *  - `{"equals-ignore-case": v | [v]}`
 *  - `{"wildcard": "abc*def*ghi"}` (`*` = any run of characters)
 *  - `{"numeric": ["<", 42, ">=", 10]}` (op/operand pairs, ANDed)
 *  - `{"exists": true|false}`
 *  - `{"anything-but": X}` where X is scalar | [scalar] | {"prefix"|"suffix"|
 *    "equals-ignore-case"|"wildcard": ...} — field must exist and NOT match
 *  - `{"$or": [subpattern, ...]}` — sub-patterns resolved relative to the
 *    current path
 *
 * Documented divergences vs the AWS grammar (all shared by the
 * `get_json_object` and parsed-struct paths, which surface scalars as their
 * text):
 *  - JSON `null` values and *absent* keys are indistinguishable, so
 *    `exists: true` means "key present with non-null value". The reference
 *    test fixture does not exercise null-valued keys.
 *  - Exact matching is text-typed: numeric pattern `{"e": 42}` also matches
 *    a *string* document value `"42"` (and `{"b": true}` matches `"true"`)
 *    because scalar extraction erases the JSON type. Type-sensitive
 *    matching would need a variant/typed-schema representation.
 *  - Array-valued document fields never match scalar matchers (AWS matches
 *    element-wise); an array field surfaces as its JSON text.
 *  - Numeric comparison runs in double: int64 values above 2^53 compare
 *    with double precision.
 */
object EventBridge {

  /** Parse `patternJson` and compile it against `metadata` (JSON string
    * column). Each referenced field is a `get_json_object` access, which
    * the optimizer turns into a [[JsonField]] for plain dotted paths: one
    * byte scan of the document per field reference per row (Spark's
    * Jackson parse only for documents the scanner defers). Fine for a
    * handful of fields; for wide patterns use the single-parse path
    * ([[schemaFor]] + [[compileWithStruct]], or [[filterFast]]). */
  def compile(patternJson: String, metadata: Column): Column =
    JsonMethods.parse(patternJson) match {
      case o: JObject => compilePattern(o, jsonResolver(metadata), Nil)
      case other => throw new IllegalArgumentException(
        s"eventbridge pattern must be a JSON object, got: ${JsonMethods.compact(other)}")
    }

  /** The default matching surface. Multi-field patterns automatically take
    * the single-parse path (one `from_json` against the pattern-derived
    * schema; whole-stage codegen's subexpression elimination evaluates the
    * shared parse once per row) — the multi-parse `get_json_object` form
    * only remains for single-field patterns, where it is the cheaper parse,
    * and for patterns a static schema cannot express (a path used as both
    * leaf and object). */
  def matches(metadata: Column, patternJson: String): Column =
    if (referencedPaths(patternJson).size < 2) compile(patternJson, metadata)
    else scala.util.Try(schemaFor(patternJson)) match {
      case scala.util.Success(schema) =>
        compileWithStruct(patternJson, from_json(metadata, schema))
      case scala.util.Failure(_) => compile(patternJson, metadata)
    }

  /**
   * Minimal read schema for evaluating `patternJson`: every referenced leaf
   * as a string field, intermediate segments as nested structs. Parse the
   * metadata ONCE with `from_json(metadata, schemaFor(p))` and evaluate the
   * predicate with [[compileWithStruct]] — the big-pattern fast path (the
   * reference's production patterns reference ~30 fields; one parse per row
   * instead of 30).
   *
   * String-leaf semantics match the `get_json_object` path: scalars surface
   * as their text, so `null` vs absent stays conflated and array-valued
   * fields still don't match element-wise (documented divergence from AWS).
   */
  def schemaFor(patternJson: String): StructType = {
    val paths = referencedPaths(patternJson)
    paths.foreach { p =>
      paths.find(q => q.length > p.length && q.startsWith(p)).foreach { q =>
        throw new IllegalArgumentException(
          s"pattern references both '${p.mkString(".")}' and '${q.mkString(".")}' — " +
          "a field cannot be both a leaf and an object; use compile() instead")
      }
    }
    def build(ps: Seq[Seq[String]]): StructType =
      StructType(ps.groupBy(_.head).toSeq.sortBy(_._1).map { case (head, group) =>
        val children = group.filter(_.length > 1).map(_.tail)
        if (children.isEmpty) StructField(head, StringType)
        else StructField(head, build(children))
      })
    build(paths.toSeq)
  }

  /** Compile against a struct column produced by
    * `from_json(metadata, schemaFor(pattern))` — zero parses per access. */
  def compileWithStruct(patternJson: String, parsed: Column): Column =
    JsonMethods.parse(patternJson) match {
      case o: JObject => compilePattern(o, structResolver(parsed), Nil)
      case other => throw new IllegalArgumentException(
        s"eventbridge pattern must be a JSON object, got: ${JsonMethods.compact(other)}")
    }

  /** One-stop fast path: filter `df` by the pattern with a single JSON parse
    * per row (projects a temporary parsed-struct column). */
  def filterFast(df: org.apache.spark.sql.DataFrame, metadataCol: String,
                 patternJson: String): org.apache.spark.sql.DataFrame = {
    val tmp = s"__eb_parsed_${math.abs(patternJson.hashCode)}"
    df.withColumn(tmp, from_json(col(metadataCol), schemaFor(patternJson)))
      .filter(compileWithStruct(patternJson, col(tmp)))
      .drop(tmp)
  }

  /** All field paths referenced by a pattern. */
  def referencedPaths(patternJson: String): Set[Seq[String]] =
    JsonMethods.parse(patternJson) match {
      case o: JObject => referencedPathsOf(o)
      case other => throw new IllegalArgumentException(
        s"eventbridge pattern must be a JSON object, got: ${JsonMethods.compact(other)}")
    }

  private def referencedPathsOf(o: JObject): Set[Seq[String]] = {
    val acc = scala.collection.mutable.Set.empty[Seq[String]]
    val recorder: FieldResolver = { path => acc += path; lit("x") }
    compilePattern(o, recorder, Nil): Unit
    acc.toSet
  }

  // ---- internals ----------------------------------------------------------

  private def compilePattern(obj: JObject, md: FieldResolver, base: Seq[String]): Column = {
    val conjuncts = obj.obj.map {
      case ("$or", JArray(subs)) =>
        subs.map {
          case o: JObject => compilePattern(o, md, base)
          case other => fail("$or", other)
        }.reduce(_ || _)
      case (key, value) =>
        val path = base ++ key.split('.').toSeq
        value match {
          case o: JObject       => compilePattern(o, md, path)
          case JArray(matchers) =>
            require(matchers.nonEmpty, s"empty matcher list for ${path.mkString(".")}")
            // scalar alternatives compile GROUPED (one extraction + one
            // numeric guard + one `IN`, r17: the per-scalar form evaluated
            // the JSON access and the numeric-shape regex once PER VALUE
            // per row — measured 2.3× on a 3-value exact list); non-scalar
            // matchers keep their per-matcher compilation
            val (scalars, complex) = matchers.partition {
              case _: JObject => false
              case _ => true
            }
            val grouped = if (scalars.isEmpty) None
              else Some(exactList(scalars, md(path)))
            val rest = complex.map(m => compileMatcher(m, md, path))
            (grouped.toSeq ++ rest).reduce(_ || _)
          case scalar           => exact(scalar, md(path))
        }
    }
    require(conjuncts.nonEmpty, "empty eventbridge pattern object")
    conjuncts.reduce(_ && _)
  }

  private def compileMatcher(m: JValue, md: FieldResolver, path: Seq[String]): Column = m match {
    case JObject(List(("prefix", v)))             => prefixLike(v, md(path), isPrefix = true)
    case JObject(List(("suffix", v)))             => prefixLike(v, md(path), isPrefix = false)
    case JObject(List(("equals-ignore-case", v))) => equalsIgnoreCase(v, md(path))
    case JObject(List(("wildcard", JString(w))))  => md(path).rlike(wildcardToRegex(w))
    case JObject(List(("numeric", JArray(ops))))  => numericRange(ops, md(path))
    case JObject(List(("exists", JBool(b))))      =>
      if (b) md(path).isNotNull else md(path).isNull
    case JObject(List(("anything-but", v)))       => anythingBut(v, md(path))
    case JObject(List(("$or", JArray(subs))))     =>
      subs.map {
        case o: JObject => compilePattern(o, md, path)
        case other => fail("$or", other)
      }.reduce(_ || _)
    case o: JObject                               =>
      // A sub-pattern object must not smuggle matcher keywords: {"prefix":..,
      // "suffix":..} or {"numeric": 5} would otherwise compile the keyword as
      // a field name and silently produce a wrong predicate.
      o.obj.collectFirst {
        case (k, _) if MatcherKeywords(k) => k
      }.foreach { k =>
        throw new IllegalArgumentException(
          s"malformed matcher at ${path.mkString(".")}: object mixes matcher " +
          s"keyword '$k' with other keys or has a mistyped body: " +
          JsonMethods.compact(JsonMethods.render(o)))
      }
      compilePattern(o, md, path)
    case scalar                                   => exact(scalar, md(path))
  }

  // "$or" is absent on purpose: compilePattern supports it alongside other
  // keys (ANDed), matching the AWS grammar.
  private val MatcherKeywords = Set(
    "prefix", "suffix", "equals-ignore-case", "wildcard", "numeric",
    "exists", "anything-but")

  /** How a field path resolves to a Column (raw-JSON or parsed-struct). */
  private type FieldResolver = Seq[String] => Column

  /** `$.a.b` accessor over the raw JSON document (one parse per access). */
  private def jsonResolver(metadata: Column): FieldResolver =
    path => get_json_object(metadata, "$." + path.mkString("."))

  /** Accessor over an already-parsed struct (zero parses per access). */
  private def structResolver(parsed: Column): FieldResolver =
    path => path.foldLeft(parsed)(_.getField(_))

  // shared with SimplifyJsonRoundTrip's finite-value rewrite, which fires
  // on exactly this literal — keep the two from drifting apart
  private val NumericRe = SimplifyJsonRoundTrip.NumericShapeRe

  /** ANSI-safe numeric view of a JSON scalar: null unless it looks numeric. */
  private def asNum(f: Column): Column =
    when(f.rlike(NumericRe), f.cast(DoubleType))

  /** A list of scalar alternatives as ONE predicate: textual values in one
    * `IN`, numeric values in one `IN` over a single guarded cast — the
    * 3-valued-logic OR of the per-scalar [[exact]] forms, with the shared
    * subexpressions (field text, numeric-shape guard) evaluated once per
    * row instead of once per alternative. */
  private def exactList(vs: Seq[JValue], f: Column): Column = {
    val texts = vs.collect { case JString(s) => s; case JBool(b) => b.toString }
    val nums = vs.collect {
      case JInt(i) => i.toDouble; case JLong(l) => l.toDouble
      case JDouble(d) => d; case JDecimal(d) => d.toDouble
    }
    val nulls = vs.collect { case JNull => JNull }
    val illegal = vs.collectFirst { case a: JArray => a; case o: JObject => o }
    illegal.foreach(fail("exact matcher", _))
    val alts: Seq[Column] =
      (if (texts.nonEmpty) Seq(f.isin(texts: _*)) else Nil) ++
      (if (nums.nonEmpty)
        Seq(when(f.rlike(NumericRe), f.cast(DoubleType).isin(nums: _*))) else Nil) ++
      (if (nulls.nonEmpty) Seq(f.isNull) else Nil)
    alts.reduce(_ || _)
  }

  private def exact(v: JValue, f: Column): Column = v match {
    case JString(s)  => f === lit(s)
    case JInt(i)     => asNum(f) === lit(i.toDouble)
    case JLong(l)    => asNum(f) === lit(l.toDouble)
    case JDouble(d)  => asNum(f) === lit(d)
    case JDecimal(d) => asNum(f) === lit(d.toDouble)
    case JBool(b)    => f === lit(b.toString)
    case JNull       => f.isNull
    case other       => fail("exact matcher", other)
  }

  /** prefix/suffix matcher bodies: string | [string] | {"equals-ignore-case": ...}. */
  private def prefixLike(v: JValue, f: Column, isPrefix: Boolean): Column = {
    def one(s: String, ci: Boolean): Column = {
      val (l, r) = if (ci) (lower(f), lit(s.toLowerCase)) else (f, lit(s))
      if (isPrefix) l.startsWith(r) else l.endsWith(r)
    }
    v match {
      case JString(s)   => one(s, ci = false)
      case JArray(xs)   => xs.map(x => one(str(x), ci = false)).reduce(_ || _)
      case JObject(List(("equals-ignore-case", JString(s)))) => one(s, ci = true)
      case JObject(List(("equals-ignore-case", JArray(xs)))) =>
        xs.map(x => one(str(x), ci = true)).reduce(_ || _)
      case other => fail(if (isPrefix) "prefix" else "suffix", other)
    }
  }

  private def equalsIgnoreCase(v: JValue, f: Column): Column = v match {
    case JString(s) => lower(f) === lit(s.toLowerCase)
    case JArray(xs) => xs.map(x => lower(f) === lit(str(x).toLowerCase)).reduce(_ || _)
    case other      => fail("equals-ignore-case", other)
  }

  private def numericRange(ops: List[JValue], f: Column): Column = {
    require(ops.size % 2 == 0 && ops.nonEmpty, "numeric matcher needs op/value pairs")
    // ONE numeric-shape guard for the whole op chain (r17): the cast runs
    // only inside the guarded branch (ANSI-safe), and a non-numeric field
    // yields NULL exactly like the per-op `asNum` conjunction did —
    // null && null is null — while paying the regex once per row instead
    // of once per op.
    val n = f.cast(DoubleType)
    val conj = ops.grouped(2).map {
      case List(JString(op), jv) =>
        val d = lit(num(jv))
        op match {
          case "<"  => n < d
          case "<=" => n <= d
          case ">"  => n > d
          case ">=" => n >= d
          case "="  => n === d
          case o    => throw new IllegalArgumentException(s"unknown numeric op '$o'")
        }
      case other => fail("numeric", JArray(other))
    }.reduce(_ && _)
    when(f.rlike(NumericRe), conj)
  }

  private def anythingBut(v: JValue, f: Column): Column = {
    val positive: Column = v match {
      case JArray(xs)                => xs.map(x => exact(x, f)).reduce(_ || _)
      case JObject(List(("prefix", pv)))             => prefixLike(pv, f, isPrefix = true)
      case JObject(List(("suffix", sv)))             => prefixLike(sv, f, isPrefix = false)
      case JObject(List(("equals-ignore-case", ev))) => equalsIgnoreCase(ev, f)
      case JObject(List(("wildcard", JString(w))))   => f.rlike(wildcardToRegex(w))
      case scalar                    => exact(scalar, f)
    }
    f.isNotNull && !coalesce(positive, lit(false))
  }

  /** `abc*def` → `^\Qabc\E.*\Qdef\E$` (each literal run regex-quoted). */
  private[functions] def wildcardToRegex(w: String): String = {
    val parts = w.split("\\*", -1).map {
      case "" => ""
      case s  => java.util.regex.Pattern.quote(s)
    }
    "^" + parts.mkString(".*") + "$"
  }

  private def str(v: JValue): String = v match {
    case JString(s) => s
    case other      => fail("string", other)
  }

  private def num(v: JValue): Double = v match {
    case JInt(i)     => i.toDouble
    case JLong(l)    => l.toDouble
    case JDouble(d)  => d
    case JDecimal(d) => d.toDouble
    case other       => fail("number", other)
  }

  private def fail(what: String, v: JValue): Nothing =
    throw new IllegalArgumentException(
      s"invalid $what in eventbridge pattern: ${JsonMethods.compact(JsonMethods.render(v))}")
}
