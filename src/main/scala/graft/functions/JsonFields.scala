package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GetJsonObject, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.json.GetJsonObjectEvaluator
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/**
 * `get_json_object(json, '$.a.b…')` for dotted-name paths, answered by a
 * byte scanner over the input's UTF-8 bytes ([[JsonFields.scan]]) instead
 * of a Jackson parser and generator per row. Every row the scanner cannot
 * prove is handed to Spark's own `GetJsonObjectEvaluator`, so the result is
 * byte-identical to `get_json_object` on every input.
 *
 * Built by [[RewriteJsonFields]] from a `GetJsonObject` with a literal
 * path; `fields` are the path's segments, `path` its text (the fallback's
 * path and the SQL form).
 */
final case class JsonField(json: Expression, fields: Seq[String], path: String)
    extends UnaryExpression {

  override def child: Expression = json
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "json_field"
  override def toString: String = s"$prettyName($json, $path)"
  override def sql: String = s"get_json_object(${json.sql}, '$path')"

  @transient private lazy val keys: Array[Array[Byte]] =
    fields.map(_.getBytes(StandardCharsets.UTF_8)).toArray
  @transient private lazy val fallback = new GetJsonObjectEvaluator(UTF8String.fromString(path))

  override def eval(input: InternalRow): Any = {
    val s = json.eval(input)
    if (s == null) null else JsonFields.lookup(s.asInstanceOf[UTF8String], keys, fallback)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val keysRef = ctx.addReferenceObj("jsonFieldKeys", keys, "byte[][]")
    val fallbackRef = ctx.addReferenceObj("jsonFieldFallback", fallback,
      classOf[GetJsonObjectEvaluator].getName)
    nullSafeCodeGen(ctx, ev, s =>
      s"""${ev.value} = graft.functions.JsonFields.lookup($s, $keysRef, $fallbackRef);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): JsonField =
    copy(json = newChild)
}

object JsonField {
  private val SimplePath = "^\\$(\\.[A-Za-z_][A-Za-z0-9_]*)+$".r

  /** The segments of a `$.a.b…` path of plain names, None for any other
    * path (wildcards, subscripts, quoted names) or one deeper than the
    * scanner follows. */
  def fieldsOf(path: String): Option[Seq[String]] =
    if (SimplePath.matches(path)) {
      val fields = path.substring(2).split('.').toSeq
      if (fields.length < JsonFields.MaxDepth) Some(fields) else None
    } else None

  /** `get_json_object(json, path)` as an expression: the scanner when the
    * path is plain names, Spark's own `GetJsonObject` otherwise. */
  def extract(json: Expression, path: String): Expression = fieldsOf(path) match {
    case Some(fields) => JsonField(json, fields, path)
    case None => GetJsonObject(json, Literal(path))
  }
}

/**
 * Rewrites `GetJsonObject(json, '<literal path>')` into [[JsonField]] when
 * the path is dotted plain names and the input is a plain (non-collated)
 * string. Injected as a pre-CBO rule, so it runs once after the
 * operator-optimization fixed point: [[SimplifyJsonRoundTrip]] and Spark's
 * `OptimizeJsonExprs` still see — and collapse — the original node.
 */
object RewriteJsonFields extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case g @ GetJsonObject(json, Literal(path: UTF8String, _: StringType))
        if json.dataType == StringType && g.dataType == StringType =>
      JsonField.fieldsOf(path.toString).map(JsonField(json, _, path.toString)).getOrElse(g)
  }
}

/**
 * The field-lookup kernel behind [[JsonField]].
 *
 * [[scan]] validates the whole document in one pass and answers only
 * inputs it can prove, where Spark's Jackson path (single quotes and raw
 * control characters allowed, first non-null match wins, the leaf copied
 * through a generator) gives the same bytes:
 *  - a top-level object of standard JSON, closed, followed by whitespace
 *    only;
 *  - every string double-quoted with no backslash, no control character
 *    and no byte ≥ 0x80, so its raw bytes are its text;
 *  - numbers in JSON's grammar, nesting at most [[MaxDepth]] deep;
 *  - the path's key at most once in each object it is looked up in (a
 *    second occurrence would bring in Jackson's null-then-value rule);
 *  - a matched leaf that is a string (its raw bytes), an integer
 *    `-?(0|[1-9][0-9]*)` of at most 18 digits other than `-0` (the text a
 *    generator prints back unchanged), `true`/`false`, or `null` (NULL).
 * An absent key, or an intermediate value that is not an object, is NULL.
 * Anything else — escapes, single quotes, floats, big integers, an object
 * or array as the result, malformed or trailing input — defers to Spark.
 */
object JsonFields {

  /** Deepest container nesting the scanner follows (Jackson allows 1000). */
  val MaxDepth = 64
  // token bounds well inside Jackson's own limits (numbers 1000 chars,
  // names 50,000, strings 20,000,000), so Jackson never rejects a document
  // the scanner accepts
  private val MaxNumberBytes = 256
  private val MaxKeyBytes = 4096
  private val MaxStringBytes = 1 << 24

  private[functions] val Defer = -1L
  private[functions] val Absent = -2L

  /** The value at `keys` in `json`: a view of the input's bytes when the
    * scanner answers, Spark's evaluator's result when it defers. The
    * evaluator is not thread-safe; the lock serialises callers that share
    * one. */
  def lookup(json: UTF8String, keys: Array[Array[Byte]],
             fallback: GetJsonObjectEvaluator): UTF8String = {
    val base = json.getBaseObject
    val off = json.getBaseOffset
    val r = scan(base, off, json.numBytes, keys)
    if (r >= 0) UTF8String.fromAddress(base, off + (r >>> 32), (r & 0xffffffffL).toInt)
    else if (r == Absent) null
    else fallback.synchronized {
      fallback.setJson(json)
      fallback.evaluate().asInstanceOf[UTF8String]
    }
  }

  private final val Value = 0
  private final val After = 1
  private final val Key = 2

  /** Scans the `n` bytes at (`base`, `off`) for the value at `keys`:
    * `start << 32 | length` of the leaf's bytes, [[Absent]] for NULL, or
    * [[Defer]]. */
  private[functions] def scan(base: AnyRef, off: Long, n: Int,
                              keys: Array[Array[Byte]]): Long = {
    @inline def at(i: Int): Int = Platform.getByte(base, off + i)
    def ws(from: Int): Int = {
      var i = from
      while (i < n && { val c = at(i); c == ' ' || c == '\n' || c == '\r' || c == '\t' }) i += 1
      i
    }
    // index of the closing quote of the string whose body starts at
    // `from`, or -1 at a backslash, a control byte or a byte ≥ 0x80
    // (negative as a signed byte) or at the end of input
    def stringEnd(from: Int): Int = {
      var i = from
      while (i < n) {
        val c = at(i)
        if (c == '"') return i
        if (c < 0x20 || c == '\\') return -1
        i += 1
      }
      -1
    }
    def literal(i: Int, text: String): Boolean = {
      if (i + text.length > n) return false
      var k = 1 // the first byte selected the literal
      while (k < text.length) { if (at(i + k) != text.charAt(k)) return false; k += 1 }
      true
    }
    def keyIs(from: Int, end: Int, key: Array[Byte]): Boolean =
      end - from == key.length && {
        var k = 0
        while (k < key.length && at(from + k) == key(k)) k += 1
        k == key.length
      }
    def span(start: Int, end: Int): Long = (start.toLong << 32) | (end - start)

    val last = keys.length - 1
    var i = ws(0)
    if (i >= n || at(i) != '{') return Defer
    var depth = 1
    var objects = 1L // bit d-1 set: the open container at depth d is an object
    var pathTop = 1  // depth of the innermost open object on the path
    var seen = 0L    // bit L set: the level-L key was met
    var level = -1   // path level of the value being parsed, -1 off the path
    var result = Absent
    i = ws(i + 1)
    var state = Key
    if (i < n && at(i) == '}') { i += 1; depth = 0; state = After }

    while (true) {
      (state: @annotation.switch) match {
        case Value =>
          if (i >= n) return Defer
          val c = at(i)
          if (c == '{') {
            if (level == last) return Defer
            depth += 1
            if (depth > MaxDepth) return Defer
            objects |= 1L << (depth - 1)
            if (level >= 0) pathTop = depth
            i = ws(i + 1)
            if (i < n && at(i) == '}') {
              if (pathTop == depth) pathTop -= 1
              depth -= 1; i += 1; state = After
            } else state = Key
          } else if (c == '[') {
            if (level == last) return Defer
            depth += 1
            if (depth > MaxDepth) return Defer
            objects &= ~(1L << (depth - 1))
            i = ws(i + 1)
            if (i < n && at(i) == ']') { depth -= 1; i += 1; state = After }
            level = -1
          } else if (c == '"') {
            val end = stringEnd(i + 1)
            if (end < 0 || end - i - 1 > MaxStringBytes) return Defer
            if (level == last) result = span(i + 1, end)
            i = end + 1; state = After
          } else if (c == '-' || (c >= '0' && c <= '9')) {
            val start = i
            if (c == '-') i += 1
            val digits = i
            if (i < n && at(i) == '0') i += 1
            else if (i < n && at(i) >= '1' && at(i) <= '9') {
              while (i < n && at(i) >= '0' && at(i) <= '9') i += 1
            } else return Defer
            val intDigits = i - digits
            var plain = true
            if (i < n && at(i) == '.') {
              plain = false; i += 1
              if (i >= n || at(i) < '0' || at(i) > '9') return Defer
              while (i < n && at(i) >= '0' && at(i) <= '9') i += 1
            }
            if (i < n && (at(i) == 'e' || at(i) == 'E')) {
              plain = false; i += 1
              if (i < n && (at(i) == '+' || at(i) == '-')) i += 1
              if (i >= n || at(i) < '0' || at(i) > '9') return Defer
              while (i < n && at(i) >= '0' && at(i) <= '9') i += 1
            }
            if (i - start > MaxNumberBytes) return Defer
            if (level == last) {
              // Jackson prints an integer back from its parsed value: the
              // text survives unless it is -0 or outside the long range
              if (!plain || intDigits > 18 || (c == '-' && at(digits) == '0')) return Defer
              result = span(start, i)
            }
            state = After
          } else if ((c == 't' && literal(i, "true")) || (c == 'f' && literal(i, "false"))) {
            val end = i + (if (c == 't') 4 else 5)
            if (level == last) result = span(i, end)
            i = end; state = After
          } else if (c == 'n' && literal(i, "null")) {
            i += 4; state = After
          } else return Defer

        case After =>
          i = ws(i)
          if (depth == 0) return if (i == n) result else Defer
          if (i >= n) return Defer
          val c = at(i)
          val inObject = (objects & (1L << (depth - 1))) != 0
          if (c == ',') {
            i = ws(i + 1)
            if (inObject) state = Key
            else { level = -1; state = Value }
          } else if (c == '}' && inObject) {
            if (pathTop == depth) pathTop -= 1
            depth -= 1; i += 1
          } else if (c == ']' && !inObject) {
            depth -= 1; i += 1
          } else return Defer

        case Key =>
          if (i >= n || at(i) != '"') return Defer
          val end = stringEnd(i + 1)
          if (end < 0 || end - i - 1 > MaxKeyBytes) return Defer
          level = -1
          if (depth == pathTop) {
            val l = depth - 1
            if (keyIs(i + 1, end, keys(l))) {
              if ((seen & (1L << l)) != 0) return Defer
              seen |= 1L << l
              level = l
            }
          }
          i = ws(end + 1)
          if (i >= n || at(i) != ':') return Defer
          i = ws(i + 1)
          state = Value
      }
    }
    Defer // unreachable: every state returns or moves on
  }
}
