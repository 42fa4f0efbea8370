package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/**
 * `graft_dot(array<double>, array<double>) → double`: sequential-fold dot
 * product as a native Catalyst expression with whole-stage codegen.
 *
 * This is the one hot loop of the similarity-search operators (SURVEY §7.2:
 * "custom Expression only if perf demands" — it does here: the
 * `aggregate(zip_with(...))` formulation is a CodegenFallback chain that
 * allocates a zipped array per row and evaluates lambdas interpretively;
 * this expression is a tight fused loop, ~an order of magnitude faster on
 * 64-dim vectors at corpus scale).
 *
 * Semantics are IDENTICAL to the fold: strict left-to-right summation in
 * double (bit-reproducible across engines), null if either array is null,
 * any element is null, or the lengths differ (matching `zip_with`'s
 * null-padding of the shorter side, which nulls the fold).
 */
final case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  // nullSafeEval/doGenCode introduce null beyond the children's nullability
  // (null elements, length mismatch) — without this override the optimizer
  // would fold isNull checks wrongly and codegen would assign an undeclared
  // ev.isNull for non-nullable inputs.
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_dot requires (array<double>, array<double>), got ($l, $r)")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $x.numElements();
         |double $acc = 0.0;
         |if ($n != $y.numElements()) { ${ev.isNull} = true; }
         |else {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $x.getDouble($i) * $y.getDouble($i);
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/**
 * `graft_srp_bands(array<long>, nbits, bands) → array<long>`: per-band
 * signed-random-projection values as one fused native loop.
 *
 * Semantics are spec-locked to [[graft.llm.SrpLsh.bandValues]]'s HOF
 * formulation (LlmSpec asserts equality on random vectors): band i covers
 * hyperplanes [i*bpb, (i+1)*bpb), bit h of the band is
 * `sign(sum_j q[j] * w(h,j)) >= 0` with the integer hyperplane mix
 * `w(h,j) = ((h*dims + j) * 2654435761 + 104729) mod 1001 - 500` (j
 * 1-based, dims = the vector length), first hyperplane most significant.
 * All arithmetic is 64-bit integer — |sum| <= dims*1e6*500 ~ 3e10 — so the
 * values are bit-identical in any engine, including DuckDB's
 * overflow-checked BIGINT (no value exceeds 2^bpb).
 *
 * Why native: the HOF formulation (`transform` × `aggregate` × `aggregate`)
 * is a CodegenFallback chain — nbits × dims interpreted lambda-tree walks
 * PER ROW (~4k expression evaluations for 64 bits over 64 dims), which
 * measured 100× slower than this fused loop at corpus scale.
 *
 * Null contract: array elements must be non-null (the [[graft.llm.SrpLsh
 * .quantize]] output guarantees it); a null ELEMENT nulls the whole
 * result here, whereas the HOF reference's null-poisoned sum emits a 0
 * bit (`when(null >= 0, 1).otherwise(0)`) — an artifact, not a spec — so
 * the lock test holds on null-free input only.
 */
final case class SrpBandValues(child: Expression, nbits: Int, bands: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(nbits > 0 && bands > 0 && nbits % bands == 0,
    s"bands must divide nbits: $nbits/$bands")

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.LongType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_srp_bands requires array<bigint> (quantized vector), got $t")
  }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "graft_srp_bands"

  override def nullSafeEval(a: Any): Any = {
    val q = a.asInstanceOf[ArrayData]
    val dims = q.numElements()
    val bpb = nbits / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var bv = 0L
      var t = 0
      while (t < bpb) {
        val h = b * bpb + t
        var s = 0L
        var j = 1
        while (j <= dims) {
          if (q.isNullAt(j - 1)) return null
          // operand is always positive, so % IS pmod here
          val w = ((h.toLong * dims + j) * 2654435761L + 104729L) % 1001L - 500L
          s += q.getLong(j - 1) * w
          j += 1
        }
        bv = bv * 2L + (if (s >= 0L) 1L else 0L)
        t += 1
      }
      out(b) = bv
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, q => {
      val dims = ctx.freshName("dims")
      val out = ctx.freshName("out")
      val b = ctx.freshName("b")
      val t = ctx.freshName("t")
      val h = ctx.freshName("h")
      val s = ctx.freshName("s")
      val j = ctx.freshName("j")
      val w = ctx.freshName("w")
      val bv = ctx.freshName("bv")
      val anyNull = ctx.freshName("anyNull")
      val bpb = nbits / bands
      s"""
         |int $dims = $q.numElements();
         |long[] $out = new long[$bands];
         |boolean $anyNull = false;
         |for (int $b = 0; $b < $bands && !$anyNull; $b++) {
         |  long $bv = 0L;
         |  for (int $t = 0; $t < $bpb && !$anyNull; $t++) {
         |    int $h = $b * $bpb + $t;
         |    long $s = 0L;
         |    for (int $j = 1; $j <= $dims; $j++) {
         |      if ($q.isNullAt($j - 1)) { $anyNull = true; break; }
         |      long $w = (((long) $h * $dims + $j) * 2654435761L + 104729L) % 1001L - 500L;
         |      $s += $q.getLong($j - 1) * $w;
         |    }
         |    $bv = $bv * 2L + ($s >= 0L ? 1L : 0L);
         |  }
         |  $out[$b] = $bv;
         |}
         |if ($anyNull) { ${ev.isNull} = true; }
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SrpBandValues =
    copy(child = newChild)
}

/** Registration surface for graft's native expressions. */
object GraftFunctions {

  val dotInfo: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_dot"),
    new ExpressionInfo(classOf[DotProduct].getCanonicalName, "graft_dot"),
    { children: Seq[Expression] =>
      require(children.size == 2, "graft_dot takes exactly 2 arguments")
      DotProduct(children.head, children(1))
    })

  /** Idempotent session-level registration (for externally-built sessions;
    * sessions built via GraftSession get it from the extensions conf). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry
      .registerFunction(dotInfo._1, dotInfo._2, dotInfo._3)

  /** Column-level constructor — no registration needed. */
  def dot(a: Column, b: Column): Column =
    Shims.column(DotProduct(Shims.expression(a), Shims.expression(b)))
}

/**
 * `spark.sql.extensions`-injectable extensions: registers graft's native
 * functions into every session built with
 * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`.
 */
final class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftFunctions.dotInfo)
    // joins the operator-optimization fixed point, so the collapse composes
    // with predicate pushdown (see SimplifyJsonRoundTrip's scaladoc)
    ext.injectOptimizerRule(_ => SimplifyJsonRoundTrip)
    // after the fixed point, so the collapse above and Spark's
    // OptimizeJsonExprs still see the original get_json_object
    ext.injectPreCBORule(_ => RewriteJsonFields)
    // A filter that references one field in several conjuncts still
    // extracts it once per conjunct: sharing the extraction via a catalyst
    // With binding is defeated in Spark 4.1 (RewriteWithExpression
    // materializes it as a Project below the Filter, and PushDownPredicates
    // pushes the filter back through it by alias substitution). Each
    // extraction is one JsonField scan of the document, with no Jackson
    // parser unless the scanner defers.
  }
}
