package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.functions.CosineSimilarity

/** Optimizer rule: fuse the composed-builtins cosine formulation
  * (`when(na > 0 && nb > 0, dot/(na*nb)).otherwise(0.0)` over
  * aggregate/zip_with/transform — `Dedup.cosineHof`) into the native
  * `CosineSimilarity` expression (one loop, no intermediate array, codegen).
  *
  * Rewrites must be EXACTLY semantics-preserving; the HOF form has four
  * edge behaviors the fused expression does not share, each reproduced in
  * the rewrite target:
  *  - null INPUT: the HOF condition goes null → CaseWhen falls to 0.0
  *    (native would return null) → guarded by `isnull(a) or isnull(b)`.
  *  - null ELEMENT: poisons the HOF aggregate → condition null → 0.0
  *    (native counts it as 0.0) → runtime `exists(x, isnull)` guard,
  *    emitted only when the array type admits null elements (file-source
  *    schemas are forced nullable, so a static containsNull check alone
  *    would never let the rule fire on real tables).
  *  - LENGTH MISMATCH: `zip_with` null-pads the shorter side, so the HOF
  *    value is null when both norms are positive, else 0.0 (native would
  *    dot the common prefix) → size-equality branch; the rare mismatch arm
  *    reproduces the null/0.0 split via self-cosine norm probes.
  *  - both sides must be the SAME two arrays: checked with semanticEquals
  *    between the dot product's inputs and each norm's input (NOT between
  *    the two norm trees — each Column use re-instantiates lambda-variable
  *    exprIds, so whole-tree comparison always fails).
  *
  * The common path (non-null, equal lengths) is one fused codegen loop;
  * accumulation order is sequential left-to-right in both forms, so the
  * rewrite is bit-identical where both are defined.
  *
  * Shipped two ways: `spark.sql.extensions=graft.plans.GraftExtensions`
  * (cluster config — also injects the `cosine_similarity` SQL function) or
  * `GraftExtensions.install(spark)` on a live session (used by the specs;
  * `experimental.extraOptimizations` is the public per-session hook).
  */
object FuseHofCosine extends Rule[LogicalPlan] {

  private def isZero(e: Expression): Boolean =
    e.foldable && (e.eval() match {
      case d: java.lang.Double => d.doubleValue() == 0.0
      case i: java.lang.Integer => i.intValue() == 0
      case _ => false
    })

  /** identity finish lambda: x => x */
  private def isIdentity(f: LambdaFunction): Boolean = f match {
    case LambdaFunction(v: NamedLambdaVariable, Seq(arg: NamedLambdaVariable), _) =>
      v.exprId == arg.exprId
    case _ => false
  }

  /** merge lambda (acc, x) => acc + x */
  private def isSumMerge(f: LambdaFunction): Boolean = f match {
    case LambdaFunction(Add(l: NamedLambdaVariable, r: NamedLambdaVariable, _),
        Seq(p1: NamedLambdaVariable, p2: NamedLambdaVariable), _) =>
      l.exprId == p1.exprId && r.exprId == p2.exprId
    case _ => false
  }

  /** sqrt(aggregate(transform(arr, x => x*x), 0.0, _+_)) → Some(arr) */
  private def normOf(e: Expression): Option[Expression] = e match {
    case Sqrt(ArrayAggregate(
        ArrayTransform(arr,
          LambdaFunction(Multiply(x: NamedLambdaVariable, y: NamedLambdaVariable, _),
            Seq(p: NamedLambdaVariable), _)),
        zero, merge: LambdaFunction, finish: LambdaFunction))
        if x.exprId == y.exprId && x.exprId == p.exprId &&
          isZero(zero) && isSumMerge(merge) && isIdentity(finish) =>
      Some(arr)
    case _ => None
  }

  /** aggregate(zip_with(a, b, _*_), 0.0, _+_) → Some((a, b)) */
  private def dotOf(e: Expression): Option[(Expression, Expression)] = e match {
    case ArrayAggregate(
        ZipWith(a, b,
          LambdaFunction(Multiply(x: NamedLambdaVariable, y: NamedLambdaVariable, _),
            Seq(p1: NamedLambdaVariable, p2: NamedLambdaVariable), _)),
        zero, merge: LambdaFunction, finish: LambdaFunction)
        if x.exprId == p1.exprId && y.exprId == p2.exprId &&
          isZero(zero) && isSumMerge(merge) && isIdentity(finish) =>
      Some((a, b))
    case _ => None
  }

  private def mayHaveNullElements(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, containsNull) => containsNull
    case _ => true
  }

  /** exists(arr, x -> isnull(x)) as a resolved expression. */
  private def anyNullElem(arr: Expression): Expression = {
    val lv = NamedLambdaVariable("el", DoubleType, nullable = true)
    ArrayExists(arr, LambdaFunction(IsNull(lv), Seq(lv)))
  }

  /** The exact-semantics rewrite target (see the semantics matrix above). */
  private def fused(a: Expression, b: Expression): Expression = {
    val zero = Literal(0.0d)
    val nullD = Literal(null, DoubleType)
    // length-mismatch arm: HOF yields null iff both norms are positive
    // (cosine(x, x) is 1.0 for a positive-norm vector, 0.0 otherwise)
    val mismatch = If(
      And(GreaterThan(CosineSimilarity(a, a), zero),
        GreaterThan(CosineSimilarity(b, b), zero)),
      nullD, zero)
    val lenBranch = If(EqualTo(Size(a, legacySizeOfNull = false),
      Size(b, legacySizeOfNull = false)), CosineSimilarity(a, b), mismatch)
    val elemGuarded =
      if (mayHaveNullElements(a) || mayHaveNullElements(b))
        If(Or(anyNullElem(a), anyNullElem(b)), zero, lenBranch)
      else lenBranch
    If(Or(IsNull(a), IsNull(b)), zero, elemGuarded)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case cw @ CaseWhen(
        Seq((And(GreaterThan(na1, z1), GreaterThan(nb1, z2)),
          Divide(dot, Multiply(na2, nb2, _), _))),
        Some(els)) if isZero(z1) && isZero(z2) && isZero(els) =>
      (normOf(na1), normOf(nb1), normOf(na2), normOf(nb2), dotOf(dot)) match {
        case (Some(a1), Some(b1), Some(a2), Some(b2), Some((ad, bd)))
            if a1.semanticEquals(a2) && b1.semanticEquals(b2) &&
              a1.semanticEquals(ad) && b1.semanticEquals(bd) =>
          fused(a1, b1)
        case _ => cw
      }
  }
}

/** Entry point for `spark.sql.extensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => FuseHofCosine)
    e.injectOptimizerRule(_ => PruneModuleRows)
    e.injectPlannerStrategy(_ => ModuleRowsStrategy)
    e.injectFunction((
      FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("array_jaccard"),
      new ExpressionInfo(classOf[graft.functions.ArrayJaccard].getName, "array_jaccard"),
      (exprs: Seq[Expression]) => graft.functions.ArrayJaccard(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("ordered_concat"),
      new ExpressionInfo(classOf[OrderedConcat].getName, "ordered_concat"),
      (exprs: Seq[Expression]) =>
        OrderedConcat(exprs(0), exprs(1), exprs(2)).toAggregateExpression()))
  }
}

object GraftExtensions {
  /** Live-session install (spec/REPL path): the same rules and strategy via
    * the public `experimental` hooks + temp-function registration. */
  def install(spark: org.apache.spark.sql.SparkSession): Unit = {
    if (!spark.experimental.extraOptimizations.contains(FuseHofCosine))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ FuseHofCosine
    ModuleRows.setup(spark)
    CosineSimilarity.register(spark)
    graft.functions.ArrayJaccard.register(spark)
    OrderedConcat.register(spark)
  }
}
