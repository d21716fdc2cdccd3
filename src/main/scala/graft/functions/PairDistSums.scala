package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, StructField, StructType}

/** n labeled 3-D points as one immutable value: cluster ids `cl0,cl1,…`
  * and coordinates flattened `x0,y0,z0,x1,…`.
  *
  * Equality is bitwise (`java.util.Arrays.equals`), so a NaN coordinate
  * still equals itself and Catalyst's tree comparisons stay well-defined.
  * The arrays never escape: generated code receives the set as a
  * reference object and only reads it. `toString` names the size, not
  * the points, so plan strings stay short.
  */
final class LabeledPointSet private (private val cl: Array[Int], private val flat: Array[Double])
    extends Serializable {
  private[functions] def clusters: Array[Int] = cl
  private[functions] def coords: Array[Double] = flat

  override def equals(o: Any): Boolean = o match {
    case s: LabeledPointSet => java.util.Arrays.equals(cl, s.cl) && java.util.Arrays.equals(flat, s.flat)
    case _ => false
  }
  override def hashCode: Int = 31 * java.util.Arrays.hashCode(cl) + java.util.Arrays.hashCode(flat)
  override def toString: String = s"LabeledPointSet(n=${cl.length}, hash=${Integer.toHexString(hashCode)})"
}

object LabeledPointSet {
  def apply(points: Seq[(Int, Double, Double, Double)]): LabeledPointSet =
    new LabeledPointSet(points.iterator.map(_._1).toArray,
      points.iterator.flatMap { case (_, x, y, z) => Iterator(x, y, z) }.toArray)
}

/** Distance sums from one point to every point of a bound
  * [[LabeledPointSet]], split by cluster: `intra` over the points whose id
  * equals `cluster`, `inter` over the rest. Each term is
  * `Math.sqrt(dx*dx + dy*dy + dz*dz)`, the same double the Silhouette's
  * former per-pair column `sqrt((a.x-b.x)*(a.x-b.x) + …)` produced, added
  * in set index order.
  *
  * The set reaches generated code through `ctx.addReferenceObj`, never as
  * literals, and interpreted and generated paths call the one static loop
  * [[PairDistSums.sums]]. Null-intolerant: a null cluster or coordinate
  * yields a null struct.
  */
case class PairDistSums(points: LabeledPointSet, first: Expression, second: Expression,
                        third: Expression, fourth: Expression) extends QuaternaryExpression {
  override def dataType: DataType = PairDistSums.resultType
  override def prettyName: String = "graft_pair_dist_sums"
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType == IntegerType && Seq(second, third, fourth).forall(_.dataType == DoubleType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an int cluster and three double coordinates, got " +
        children.map(_.dataType.catalogString).mkString(" / "))

  override def nullSafeEval(c: Any, x: Any, y: Any, z: Any): Any =
    PairDistSums.sums(c.asInstanceOf[Int], x.asInstanceOf[Double], y.asInstanceOf[Double],
      z.asInstanceOf[Double], points)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ps = ctx.addReferenceObj("points", points, classOf[LabeledPointSet].getName)
    defineCodeGen(ctx, ev, (c, x, y, z) => s"graft.functions.PairDistSums.sums($c, $x, $y, $z, $ps)")
  }

  override protected def withNewChildrenInternal(
      a: Expression, b: Expression, c: Expression, d: Expression): PairDistSums =
    copy(first = a, second = b, third = c, fourth = d)
}

object PairDistSums {
  val resultType: StructType = StructType(Seq(
    StructField("intra", DoubleType, nullable = false),
    StructField("inter", DoubleType, nullable = false)))

  def sums(cluster: Int, x: Double, y: Double, z: Double, points: LabeledPointSet): InternalRow = {
    val cl = points.clusters
    val c = points.coords
    var intra = 0.0
    var inter = 0.0
    var j = 0
    while (j < cl.length) {
      val dx = x - c(3 * j); val dy = y - c(3 * j + 1); val dz = z - c(3 * j + 2)
      val d = Math.sqrt(dx * dx + dy * dy + dz * dz)
      if (cl(j) == cluster) intra += d else inter += d
      j += 1
    }
    new GenericInternalRow(Array[Any](intra, inter))
  }

  def column(points: LabeledPointSet, cluster: Column, x: Column, y: Column, z: Column): Column =
    ColumnBridge.column(PairDistSums(points, ColumnBridge.expression(cluster),
      ColumnBridge.expression(x), ColumnBridge.expression(y), ColumnBridge.expression(z)))
}
