package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

/** Optimizer rule: rewrite the composed higher-order dot-product pattern
  *
  * {{{ aggregate(zip_with(a, b, (x, y) -> double(x) * double(y)),
  *               0d, (acc, v) -> acc + v) }}}
  *
  * into the codegen'd [[DotProduct]] (strict mode — identical null
  * semantics: NULL on length mismatch or null element, since zip_with pads
  * with nulls and `acc + null` poisons the fold). Users writing the
  * idiomatic public-API form get the fused loop automatically.
  *
  * Only user-written SQL and Column code needs it: no operator writes the
  * pattern (operators call `GraftFunctions.dotProduct` directly). Both SQL
  * binders install it with the native functions — `GraftExtensions` at
  * session build, `GraftFunctions.register` on a live session through
  * `spark.experimental.extraOptimizations`.
  */
object RewriteDotProduct extends Rule[LogicalPlan] {

  /** Strip no-op-for-value double casts. */
  private def strip(e: Expression): Expression = e match {
    case c: Cast if c.dataType == DoubleType => strip(c.child)
    case other => other
  }

  private def isVar(e: Expression, v: NamedLambdaVariable): Boolean =
    strip(e) match {
      case nv: NamedLambdaVariable => nv.exprId == v.exprId
      case _ => false
    }

  private def isMulOfVars(body: Expression, x: NamedLambdaVariable,
      y: NamedLambdaVariable): Boolean = strip(body) match {
    // the Multiply itself must run in DOUBLE: a float×float multiply
    // under an outer double cast rounds each product before accumulating,
    // and the fused DotProduct (which multiplies in double) would differ
    // in low-order bits
    case m @ Multiply(a, b, _) if m.dataType == DoubleType =>
      (isVar(a, x) && isVar(b, y)) || (isVar(a, y) && isVar(b, x))
    case _ => false
  }

  private def isAddOfVars(body: Expression, acc: NamedLambdaVariable,
      v: NamedLambdaVariable): Boolean = strip(body) match {
    case Add(a, b, _) =>
      (isVar(a, acc) && isVar(b, v)) || (isVar(a, v) && isVar(b, acc))
    case _ => false
  }

  private def isZeroDouble(e: Expression): Boolean = e match {
    case Literal(0.0, DoubleType) => true
    case _ => false
  }

  /** DotProduct reads elements via getFloat/getDouble only, so the rewrite
    * is sound solely for float/double arrays; int/long arrays must keep the
    * higher-order form (8-byte reads over 4-byte elements would corrupt).
    */
  private def isFloatingArray(e: Expression): Boolean =
    e.resolved && (e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    })

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ArrayAggregate(
            ZipWith(l, r, LambdaFunction(mulBody,
              Seq(x: NamedLambdaVariable, y: NamedLambdaVariable), _)),
            zero,
            LambdaFunction(addBody,
              Seq(acc: NamedLambdaVariable, v: NamedLambdaVariable), _),
            LambdaFunction(finBody, Seq(fin: NamedLambdaVariable), _))
          if isZeroDouble(zero) && isFloatingArray(l) && isFloatingArray(r) &&
            isMulOfVars(mulBody, x, y) &&
            isAddOfVars(addBody, acc, v) && isVar(finBody, fin) =>
        DotProduct(l, r, strict = true)
    }
}
