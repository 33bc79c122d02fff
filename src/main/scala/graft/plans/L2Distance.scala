package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, GraftSqlBridge, SparkSessionExtensions}

/** Native codegen'd L2 distance over `ARRAY<FLOAT>` / `ARRAY<DOUBLE>`.
  *
  * The higher-order-function formulation ([[graft.functions.VectorFunctions.l2]])
  * is interpreted: per row it allocates a zipped array, then folds with a
  * lambda dispatch per element. This expression generates a tight
  * primitive loop instead — same semantics bit-for-bit (left-to-right
  * double accumulation, matching SURVEY §2.8 rule 3 and the DuckDB
  * oracle):
  *  - element-wise (x−y)² accumulated in DOUBLE, then sqrt;
  *  - NULL if either side is NULL, lengths differ, or any element is NULL
  *    (exactly what zip_with's null-padding + aggregate propagation gives).
  *
  * This is the §7.3 "custom Expression" escalation: used only because the
  * built-in operators can't express a fused primitive loop — everything
  * around it (filter, top-k) stays built-in.
  */
case class L2Distance(left: Expression, right: Expression,
                      squared: Boolean = false)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = if (squared) "l2sq_native" else "l2_native"

  // Can return NULL regardless of input nullability (length mismatch, null
  // elements) — without this, two non-nullable inputs would declare the
  // expression non-nullable and nullSafeCodeGen would emit an assignment to
  // a FalseLiteral isNull (invalid codegen, wrong results interpreted).
  override def nullable: Boolean = true

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<FLOAT|DOUBLE> inputs, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    val (af, bf) = (isFloat(left), isFloat(right))
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (af) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bf) b.getFloat(i).toDouble else b.getDouble(i)
      val d = x - y
      acc += d * d
      i += 1
    }
    if (squared) acc else math.sqrt(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val getA = if (isFloat(left)) s"(double) $a.getFloat($i)"
                 else s"$a.getDouble($i)"
      val getB = if (isFloat(right)) s"(double) $b.getFloat($i)"
                 else s"$b.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $d = $getA - $getB;
         |    $acc += $d * $d;
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = ${
             if (squared) acc else s"java.lang.Math.sqrt($acc)"}; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Column-API access to the native expressions (no session registration
  * needed), plus a [[SparkSessionExtensions]] hook for SQL access. */
object NativeFunctions {
  def l2Native(a: Column, b: Column): Column =
    GraftSqlBridge.column(
      L2Distance(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** Squared L2 (no final sqrt) — for float paths that must stay
    * bit-identical to a Σd² oracle: sqrt-then-square is NOT the identity
    * in IEEE doubles, so `pow(l2Native(...), 2)` cannot be hash-matched
    * while `l2SqNative` can. */
  def l2SqNative(a: Column, b: Column): Column =
    GraftSqlBridge.column(
      L2Distance(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b),
        squared = true))
}

/** `spark.sql.extensions=graft.plans.GraftExtensions` registers the native
  * functions for SQL use, e.g. `SELECT l2_native(embedding, query)`,
  * `feature_hash_embed(text, 64)`, `simhash16(text)`,
  * `hashed_shingles(text, 3, 4, true)`, and injects [[NativeKernelRewrite]].
  * Every driver session gets it from [[graft.Sessions.local]]. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intLit(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
    case _ => throw new IllegalArgumentException(s"$what must be an INT literal")
  }
  private def boolLit(e: Expression, what: String): Boolean = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Boolean, BooleanType) => v
    case _ => throw new IllegalArgumentException(s"$what must be a BOOLEAN literal")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // declarative HOF l2/l2Sq patterns → the codegen'd kernel (bit-identical
    // by the L2DistanceSpec parity contract, so pure physical rewrite)
    ext.injectOptimizerRule(_ => NativeKernelRewrite)
    ext.injectFunction((
      FunctionIdentifier("l2_native"),
      new ExpressionInfo(classOf[L2Distance].getName, "l2_native"),
      (children: Seq[Expression]) => L2Distance(children.head, children(1))))
    ext.injectFunction((
      FunctionIdentifier("feature_hash_embed"),
      new ExpressionInfo(classOf[FeatureHashEmbed].getName,
        "feature_hash_embed"),
      (children: Seq[Expression]) =>
        FeatureHashEmbed(children.head, intLit(children(1), "dim"))))
    ext.injectFunction((
      FunctionIdentifier("simhash16"),
      new ExpressionInfo(classOf[SimHash16].getName, "simhash16"),
      (children: Seq[Expression]) => SimHash16(children.head)))
    ext.injectFunction((
      FunctionIdentifier("hashed_shingles"),
      new ExpressionInfo(classOf[HashedShingles].getName, "hashed_shingles"),
      (children: Seq[Expression]) => HashedShingles(children.head,
        intLit(children(1), "n"), intLit(children(2), "hexDigits"),
        boolLit(children(3), "collapse"))))
    ext.injectFunction((
      FunctionIdentifier("vector_sum"),
      new ExpressionInfo(classOf[VectorSum].getName, "vector_sum"),
      // the analyzer wraps a bare AggregateFunction in an
      // AggregateExpression, same as built-in sum/avg registrations
      (children: Seq[Expression]) => VectorSum(children.head)))
  }
}
