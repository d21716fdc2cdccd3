package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType}

/** K 3-D centroids as one immutable value, flattened `x0,y0,z0,x1,…`.
  *
  * Equality is bitwise per coordinate (`java.util.Arrays.equals`), so a
  * NaN centroid still equals itself and Catalyst's tree comparisons stay
  * well-defined. The array never escapes: generated code receives it as a
  * reference object and only reads it.
  */
final class CentroidSet private (private val flat: Array[Double]) extends Serializable {
  private[functions] def coords: Array[Double] = flat

  override def equals(o: Any): Boolean = o match {
    case c: CentroidSet => java.util.Arrays.equals(flat, c.flat)
    case _ => false
  }
  override def hashCode: Int = java.util.Arrays.hashCode(flat)
  override def toString: String =
    flat.grouped(3).map(_.mkString("(", ",", ")")).mkString("[", ",", "]")
}

object CentroidSet {
  def apply(points: Seq[(Double, Double, Double)]): CentroidSet = {
    require(points.nonEmpty, "no centroids")
    new CentroidSet(points.iterator.flatMap { case (x, y, z) => Iterator(x, y, z) }.toArray)
  }
}

/** Native nearest-centroid kernels over three double columns.
  *
  * The K centroids are bound to the expression as one [[CentroidSet]] and
  * handed to generated code through `ctx.addReferenceObj`, never inlined
  * as double literals. The generated Java is therefore the same text for
  * any centroid values, and Spark's codegen cache compiles it once per
  * session instead of once per Lloyd iteration. Interpreted and generated
  * paths call the same static loop in [[CentroidKernels]], so they agree
  * bitwise.
  *
  * Null-intolerant: a null coordinate yields a null result, never a
  * cluster id.
  */
abstract class CentroidKernel extends TernaryExpression {
  def centroids: CentroidSet
  /** Name of the static method in [[CentroidKernels]] this kernel calls. */
  protected def kernel: String

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == DoubleType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires three double inputs, got " +
        children.map(_.dataType.catalogString).mkString(" / "))
  override def nullIntolerant: Boolean = true

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cs = ctx.addReferenceObj("centroids", centroids.coords, "double[]")
    defineCodeGen(ctx, ev, (x, y, z) =>
      s"graft.functions.CentroidKernels.$kernel($x, $y, $z, $cs)")
  }
}

/** Index (0-based) of the centroid at the least Euclidean distance. */
case class NearestCentroid(centroids: CentroidSet, first: Expression,
                           second: Expression, third: Expression) extends CentroidKernel {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_nearest_centroid"
  override protected def kernel: String = "nearest"
  override def nullSafeEval(x: Any, y: Any, z: Any): Any =
    CentroidKernels.nearest(x.asInstanceOf[Double], y.asInstanceOf[Double],
      z.asInstanceOf[Double], centroids.coords)
  override protected def withNewChildrenInternal(
      a: Expression, b: Expression, c: Expression): NearestCentroid =
    copy(first = a, second = b, third = c)
}

/** Least squared Euclidean distance to any centroid. */
case class MinSqDist(centroids: CentroidSet, first: Expression,
                     second: Expression, third: Expression) extends CentroidKernel {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_min_sq_dist"
  override protected def kernel: String = "minSq"
  override def nullSafeEval(x: Any, y: Any, z: Any): Any =
    CentroidKernels.minSq(x.asInstanceOf[Double], y.asInstanceOf[Double],
      z.asInstanceOf[Double], centroids.coords)
  override protected def withNewChildrenInternal(
      a: Expression, b: Expression, c: Expression): MinSqDist =
    copy(first = a, second = b, third = c)
}

object CentroidKernels {

  /** Spark's double ordering (`SQLOrderingUtil.compareDoubles`) as a
    * strict less-than: NaN sorts above every other value and equals
    * itself, and -0.0 equals 0.0. */
  private def less(a: Double, b: Double): Boolean =
    a < b || (b != b && a == a)

  /** argmin over `Math.sqrt(StrictMath.pow(x-cx,2) + StrictMath.pow(y-cy,2)
    * + StrictMath.pow(z-cz,2))` — the calls Spark's `Sqrt`/`Pow` codegen
    * emits for `sqrt(pow(x - cx, 2) + …)`, so distances are the same
    * doubles the column expression produced. Ties go to the lowest index,
    * as `array_min` over `struct(d, i)` breaks them. */
  def nearest(x: Double, y: Double, z: Double, c: Array[Double]): Int = {
    var best = 0
    var bestD = 0.0
    var i = 0
    while (i < c.length) {
      val d = Math.sqrt(StrictMath.pow(x - c(i), 2) + StrictMath.pow(y - c(i + 1), 2) +
        StrictMath.pow(z - c(i + 2), 2))
      if (i == 0 || less(d, bestD)) { best = i / 3; bestD = d }
      i += 3
    }
    best
  }

  /** min over `(x-cx)*(x-cx) + (y-cy)*(y-cy) + (z-cz)*(z-cz)`, folded left
    * to right with `least`'s replace-if-strictly-smaller rule, so the
    * result is bitwise the `least(d2(c0), d2(c1), …)` chain's. */
  def minSq(x: Double, y: Double, z: Double, c: Array[Double]): Double = {
    var best = 0.0
    var i = 0
    while (i < c.length) {
      val dx = x - c(i); val dy = y - c(i + 1); val dz = z - c(i + 2)
      val d = dx * dx + dy * dy + dz * dz
      if (i == 0 || less(d, best)) best = d
      i += 3
    }
    best
  }

  // numeric inputs widen to double, as `x - cx` against a double literal did
  private def dbl(c: Column): Expression = ColumnBridge.expression(c.cast(DoubleType))

  def nearestCentroid(centroids: CentroidSet, x: Column, y: Column, z: Column): Column =
    ColumnBridge.column(NearestCentroid(centroids, dbl(x), dbl(y), dbl(z)))

  def minSqDist(centroids: CentroidSet, x: Column, y: Column, z: Column): Column =
    ColumnBridge.column(MinSqDist(centroids, dbl(x), dbl(y), dbl(z)))
}
