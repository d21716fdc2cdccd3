package graft.plans

import graft.functions.{DotProduct, L2Sq, PolyHash}
import graft.llm.TextAnalysis
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, Multiply, Pow}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Optimizer rule: `pow(x, 2)` becomes `x * x` for deterministic x.
  *
  * Two wins over the built-in lowering to StrictMath.pow:
  *   - throughput: StrictMath.pow is a ~50-cycle libm call per row where
  *     the multiply is one instruction inside whole-stage codegen;
  *   - cross-engine float discipline (see contract/PointSpace): libm pow
  *     is only 1-ulp-accurate, so `pow(x,2)` can differ from DuckDB's
  *     `x*x` in the last bit; the rewrite makes squares bit-identical
  *     across engines by construction.
  *
  * Deliberately opt-in (via GraftExtensions / experimental methods, NOT
  * always-on): it changes the last-bit floats of any `pow(x, 2)` a user
  * query writes, which is exactly what the contract queries want and not
  * what every caller expects. The reference-parity path is out of its
  * reach either way: the K-Means assign kernel
  * (`functions/CentroidKernels.NearestCentroid`) calls StrictMath.pow
  * inside one native expression, which has no `Pow` node to rewrite, so
  * golden-file reproduction holds with or without the rule.
  *
  * Duplicating `x` is safe: codegen's subexpression elimination computes
  * a deterministic x once; non-deterministic x is never rewritten (the
  * two evaluations could legitimately differ).
  */
object RewritePowSquare extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Pow(x, Literal(2.0, _)) if x.deterministic => Multiply(x, x)
    }
}

/** `SparkSessionExtensions` installer — makes graft's native Catalyst
  * expressions callable from *pure SQL* (they're otherwise reachable
  * only through the Scala Column API) and adds the square-rewrite
  * optimizer rule. Activate per session with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`
  * or `.withExtensions(new GraftExtensions)`.
  *
  * Registered functions:
  *   - `graft_poly_hash(str[, mod])` — rolling polynomial hash
  *     (functions/PolyHash); default mod is the shared contract modulus
  *     so SQL callers fingerprint identically to the Scala pipeline.
  *   - `graft_dot(a, b)` / `graft_l2sq(a, b)` — fused vector kernels
  *     over array<double> (functions/VectorOps).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def longLit(e: Expression, fn: String): Long = e match {
    case Literal(m: Long, LongType) => m
    case Literal(m: Int, IntegerType) => m.toLong
    case other => throw new IllegalArgumentException(
      s"$fn: modulus must be an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_poly_hash"),
      new ExpressionInfo(classOf[PolyHash].getCanonicalName, "graft_poly_hash"),
      (args: Seq[Expression]) => args match {
        case Seq(s) => PolyHash(s, TextAnalysis.FpMod)
        case Seq(s, m) => PolyHash(s, longLit(m, "graft_poly_hash"))
        case _ => throw new IllegalArgumentException(
          "graft_poly_hash expects (str) or (str, mod)")
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getCanonicalName, "graft_dot"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => DotProduct(a, b)
        case _ => throw new IllegalArgumentException("graft_dot expects (a, b)")
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_l2sq"),
      new ExpressionInfo(classOf[L2Sq].getCanonicalName, "graft_l2sq"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => L2Sq(a, b)
        case _ => throw new IllegalArgumentException("graft_l2sq expects (a, b)")
      }))
    ext.injectOptimizerRule(_ => RewritePowSquare)
  }
}
