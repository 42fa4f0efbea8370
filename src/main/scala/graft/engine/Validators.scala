package graft.engine

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.functions.{EventBridge, JsonDocument}

/**
 * Producer-side metadata validation (reference F1-F3): a validator compiles
 * to a Catalyst predicate evaluated at push time; invalid events abort the
 * produce (the reference throws from `Producer.push`,
 * `/root/reference/src/MofkaProducer.cpp:69`).
 *
 * Pluggable via the `FromMetadata` descriptor convention:
 *  - `{"type":"default"}`                      → accept everything
 *  - `{"type":"eventbridge","pattern":{...}}`  → EventBridge pattern predicate
 *  - `{"type":"schema","schema":{...}}`        → JSON-Schema (subset) check,
 *    mirroring the python client's `Validator.from_metadata(type="schema")`
 *    (`/root/reference/python/mochi/mofka/client.py:13-16`)
 */
sealed trait Validator {
  /** True iff the event is acceptable. Pure Column tree — codegen-friendly. */
  def predicate(metadata: Column): Column
  def descriptor: JObject
}

object Validator {

  case object Default extends Validator {
    override def predicate(metadata: Column): Column = lit(true)
    override def descriptor: JObject = TopicConfig.DefaultValidator
  }

  /** EventBridge pattern over the metadata, which must also be one whole
    * JSON document: a one-field pattern compiles to `get_json_object`,
    * which reads only the first value, so without the document check
    * `{"kind":"good"} x` would pass `{"kind":["good"]}`. The check lives
    * here, not in [[EventBridge.matches]], which consumer-side matchers
    * share. */
  final case class EventBridgeValidator(pattern: String) extends Validator {
    override def predicate(metadata: Column): Column =
      EventBridge.matches(metadata, pattern) &&
        Shims.column(JsonDocument(Shims.expression(metadata)))
    override def descriptor: JObject = JObject(
      "type" -> JString("eventbridge"),
      "pattern" -> JsonMethods.parse(pattern))
  }

  /**
   * JSON-Schema subset: `type` (object/string/number/integer/boolean/array),
   * `properties`, `required` (root and nested objects), `items` (scalar
   * keywords applied per element), plus the constraint keywords `enum`,
   * `minimum`/`maximum`, `pattern` (unanchored search, like the spec), and
   * `additionalProperties: false` (key-set check via `json_object_keys`,
   * recursing into nested objects). Valid ⇔ the document parses against the
   * derived StructType AND every `required` property is non-null AND every
   * constraint conjunct holds. Constraints follow JSON-Schema applicability:
   * an absent (null) property passes its own constraints — presence is
   * `required`'s job. The reference delegates to a full JSON-Schema engine
   * (`/root/reference/src/JsonUtil.hpp:182-224`); this covers the keywords
   * its surfaces exercise. Outside the subset (documented): `enum` on
   * object-typed nodes, keywords nested inside array-element objects.
   *
   * Divergence (documented): a present-but-mistyped optional field parses to
   * null and is accepted; full JSON-Schema would reject. The required-field
   * path — what the reference test surface exercises — matches. `enum` is
   * checked in the property's declared-type domain (mixed-type enums only
   * match values of the declared type).
   */
  final case class SchemaValidator(schemaJson: String) extends Validator {
    private val parsed = JsonMethods.parse(schemaJson)
    // DDL-time contract: constructing the validator IS the plugin check
    // (createTopic/alterValidator build one), so a `required` name with no
    // `properties` declaration must fail HERE with a readable message —
    // otherwise every later produce dies in the Catalyst analyzer with an
    // opaque "no such struct field" error.
    SchemaValidator.checkRequiredDeclared(parsed, "$")
    val sparkType: DataType = SchemaValidator.toSparkType(parsed)

    override def predicate(metadata: Column): Column = {
      val st = sparkType.asInstanceOf[StructType]
      val doc = from_json(metadata, st)
      val requiredOk = SchemaValidator.required(parsed)
        .map(f => doc.getField(f).isNotNull)
        .foldLeft(lit(true))(_ && _)
      val constraintsOk = SchemaValidator.constraints(parsed, metadata, "$", doc)
        .foldLeft(lit(true))(_ && _)
      doc.isNotNull && requiredOk && constraintsOk
    }

    /** Typed struct view of the metadata (for consumers of schema topics). */
    def typedColumn(metadata: Column): Column =
      from_json(metadata, sparkType.asInstanceOf[StructType])

    override def descriptor: JObject = JObject(
      "type" -> JString("schema"),
      "schema" -> parsed)
  }

  object SchemaValidator {
    private[engine] def required(schema: JValue): Seq[String] = schema \ "required" match {
      case JArray(xs) => xs.collect { case JString(s) => s }
      case _ => Nil
    }

    /** Every `required` name (root and nested) must be DECLARED in its
      * node's `properties`: the predicate extracts required fields from
      * the derived struct, so an undeclared name has no type to extract
      * by — reject at validator construction (DDL time), not produce
      * time. */
    private[engine] def checkRequiredDeclared(schema: JValue, path: String): Unit =
      schema match {
        case JNothing => ()
        case _ => schema \ "type" match {
          case JString("object") =>
            val props: Seq[(String, JValue)] = schema \ "properties" match {
              case JObject(fields) => fields
              case _ => Nil
            }
            val declared = props.map(_._1).toSet
            val missing = required(schema).filterNot(declared.contains)
            if (missing.nonEmpty) throw new IllegalArgumentException(
              s"schema validator: required field(s) ${missing.mkString(", ")} " +
              s"at $path are not declared under 'properties' — a required " +
              "field needs a declared type to be checked")
            props.foreach { case (n, sub) => checkRequiredDeclared(sub, s"$path.$n") }
          case JString("array") =>
            checkRequiredDeclared(schema \ "items", s"$path[]")
          case _ => ()
        }
      }

    /** JSON-path segment for a property name: dotted access for simple
      * identifiers, bracket-quoted otherwise ('a.b', 'x[0]' as literal key
      * names would mis-resolve — and silently fail open — if concatenated
      * into `$.a.b`). */
    private def pathSegment(name: String): String =
      if (name.matches("[A-Za-z_][A-Za-z0-9_]*")) s".$name" else s"['$name']"

    /** Constraint conjuncts for one schema node. `path` is the JSON path of
      * the node in the root document; `typed` its from_json-extracted value. */
    private[engine] def constraints(
        schema: JValue, metadata: Column, path: String, typed: Column): Seq[Column] = {
      val buf = Seq.newBuilder[Column]
      schema \ "type" match {
        case JString("object") =>
          val props: Seq[(String, JValue)] = schema \ "properties" match {
            case JObject(fields) => fields
            case _ => Nil
          }
          schema \ "additionalProperties" match {
            case JBool(false) =>
              // key-set containment on the raw JSON text (the typed struct
              // cannot see unexpected keys); an absent nested object passes
              val txt = if (path == "$") metadata else get_json_object(metadata, path)
              buf += coalesce(
                size(array_except(json_object_keys(txt),
                  typedLit(props.map(_._1)))) === 0, lit(true))
            case _ =>
          }
          // `required` on a nested object (the root's is checked in
          // predicate()): applies only when the object itself is present
          if (path != "$") required(schema).foreach { r =>
            buf += typed.isNull || typed.getField(r).isNotNull
          }
          props.foreach { case (name, sub) =>
            buf ++= constraints(sub, metadata,
              path + pathSegment(name), typed.getField(name))
          }
        case JString("array") =>
          // scalar keywords on the `items` node apply to EVERY element
          // (JSON-Schema `items`); keywords nested deeper inside object-typed
          // elements are outside the subset (documented bound)
          val itemSchema = schema \ "items"
          if (itemSchema != JNothing) {
            val elemConstraints = scalarConstraints(itemSchema, _: Column)
            if (elemConstraints(lit(null)).nonEmpty)
              buf += typed.isNull ||
                forall(typed, e => elemConstraints(e).foldLeft(lit(true))(_ && _))
          }
        case _ =>
          buf ++= scalarConstraints(schema, typed)
      }
      buf.result()
    }

    /** enum / minimum / maximum / pattern for one scalar-valued node. */
    private def scalarConstraints(schema: JValue, typed: Column): Seq[Column] = {
      val buf = Seq.newBuilder[Column]
      def num(j: JValue): Option[Double] = j match {
        case JInt(i) => Some(i.toDouble)
        case JLong(l) => Some(l.toDouble)
        case JDouble(d) => Some(d)
        case JDecimal(d) => Some(d.toDouble)
        case _ => None
      }
      schema \ "enum" match {
        case JArray(vals) =>
          val inDomain = vals.collect {
            case JString(s) => s: Any
            case JInt(i) => i.toLong: Any
            case JLong(l) => l: Any
            case JDouble(d) => d: Any
            case JDecimal(d) => d.toDouble: Any
            case JBool(b) => b: Any
          }
          buf += (if (inDomain.isEmpty) typed.isNull
                  else typed.isNull || typed.isin(inDomain: _*))
        case _ =>
      }
      num(schema \ "minimum").foreach(m => buf += typed.isNull || typed >= m)
      num(schema \ "maximum").foreach(m => buf += typed.isNull || typed <= m)
      schema \ "pattern" match {
        case JString(re) => buf += typed.isNull || typed.rlike(re)
        case _ =>
      }
      buf.result()
    }

    private[engine] def toSparkType(schema: JValue): DataType = schema \ "type" match {
      case JString("object") =>
        val props = schema \ "properties" match {
          case JObject(fields) => fields.map { case (k, v) => StructField(k, toSparkType(v)) }
          case _ => Nil
        }
        StructType(props)
      case JString("string") => StringType
      case JString("number") => DoubleType
      case JString("integer") => LongType
      case JString("boolean") => BooleanType
      case JString("array") => ArrayType(toSparkType(schema \ "items" match {
        case JNothing => JObject("type" -> JString("string"))
        case items => items
      }))
      case other => throw new IllegalArgumentException(
        s"unsupported JSON-Schema type: ${JsonMethods.compact(JsonMethods.render(other))}")
    }
  }

  /** `FromMetadata` factory (descriptor → implementation). */
  def fromDescriptor(desc: JObject): Validator = desc \ "type" match {
    case JString("default") | JNothing => Default
    case JString("eventbridge") =>
      EventBridgeValidator(JsonMethods.compact(JsonMethods.render(desc \ "pattern")))
    case JString("schema") =>
      SchemaValidator(JsonMethods.compact(JsonMethods.render(desc \ "schema")))
    case other => throw new IllegalArgumentException(
      s"unknown validator type: ${JsonMethods.compact(JsonMethods.render(other))}")
  }
}
