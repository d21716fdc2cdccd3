package graft.functions

import scala.util.Random

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}

/** The native per-point distance-sum kernel against the per-pair column
  * the Silhouette used to sum over joined pair rows,
  * `sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) + (a.z-b.z)*(a.z-b.z))`,
  * built here as the Silhouette built it. */
class PairDistSumsSpec extends SparkSpec {

  private type P = (Int, Double, Double, Double)

  private def pairDist: Column = {
    def sq(c: Column) = c * c
    sqrt(sq(col("ax") - col("bx")) + sq(col("ay") - col("by")) + sq(col("az") - col("bz")))
  }

  private val schema = StructType(StructField("cluster", IntegerType) +:
    Seq("x", "y", "z").map(StructField(_, DoubleType)))

  /** An RDD-backed frame: a projection over a local Seq would be folded
    * by the optimizer and never reach generated code. */
  private def frame(pts: Seq[P]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      pts.map { case (c, x, y, z) => Row(c, x, y, z) }, 3), schema)

  private def sums(set: LabeledPointSet, pts: Seq[P]): Seq[(Long, Long)] =
    frame(pts)
      .select(PairDistSums.column(set, col("cluster"), col("x"), col("y"), col("z")).as("s"))
      .select(col("s.intra"), col("s.inter"))
      .collect().toSeq
      .map(r => (java.lang.Double.doubleToLongBits(r.getDouble(0)),
        java.lang.Double.doubleToLongBits(r.getDouble(1))))

  private def cloud(rng: Random, n: Int, k: Int, scale: Double): Seq[P] =
    Seq.fill(n)((rng.nextInt(k), rng.nextGaussian() * scale, rng.nextGaussian() * scale,
      rng.nextGaussian() * scale))

  test("per-pair distance is bitwise the pairDist column on random pairs") {
    // b_j alone carries cluster j, so a_j's intra sum is 0.0 + d(a_j, b_j)
    val rng = new Random(5)
    val n = 500
    val as = cloud(rng, n, 1, 700).zipWithIndex.map { case ((_, x, y, z), j) => (j, x, y, z) }
    val bs = cloud(rng, n, 1, 700).zipWithIndex.map { case ((_, x, y, z), j) => (j, x, y, z) }
    val expected = spark.createDataFrame(spark.sparkContext.parallelize(
      as.zip(bs).map { case ((_, ax, ay, az), (_, bx, by, bz)) => Row(ax, ay, az, bx, by, bz) }, 3),
      StructType(Seq("ax", "ay", "az", "bx", "by", "bz").map(StructField(_, DoubleType))))
      .select(pairDist).collect().toSeq.map(r => java.lang.Double.doubleToLongBits(r.getDouble(0)))
    sums(LabeledPointSet(bs), as).map(_._1) shouldBe expected
  }

  test("generated and interpreted paths agree bitwise, and match a plain loop") {
    val rng = new Random(9)
    val set = cloud(rng, 300, 4, 250)
    val pts = cloud(rng, 200, 5, 250) ++ Seq(
      (0, Double.NaN, 1.0, 1.0), (1, Double.PositiveInfinity, 0.0, 0.0), (2, -0.0, 0.0, -0.0))
    val ls = LabeledPointSet(set)
    val generated = sums(ls, pts)
    interpreted(sums(ls, pts)) shouldBe generated
    val loop = pts.map { case (c, x, y, z) =>
      var intra = 0.0
      var inter = 0.0
      for ((cj, xj, yj, zj) <- set) {
        val d = math.sqrt((x - xj) * (x - xj) + (y - yj) * (y - yj) + (z - zj) * (z - zj))
        if (cj == c) intra += d else inter += d
      }
      (java.lang.Double.doubleToLongBits(intra), java.lang.Double.doubleToLongBits(inter))
    }
    generated shouldBe loop
  }

  test("a null cluster or coordinate yields a null struct on both paths") {
    val set = LabeledPointSet(Seq((0, 0.0, 0.0, 0.0), (1, 3.0, 4.0, 0.0)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row(null, 1.0, 1.0, 1.0), Row(0, null, 1.0, 1.0), Row(0, 0.0, 0.0, 0.0)), 2), schema)
    def run() = df
      .select(PairDistSums.column(set, col("cluster"), col("x"), col("y"), col("z")).as("s"))
      .collect().toSeq.map(r => Option(r.getStruct(0)).map(s => (s.getDouble(0), s.getDouble(1))))
    val expected = Seq(None, None, Some((0.0, 5.0)))
    run() shouldBe expected
    interpreted(run()) shouldBe expected
  }

  test("the set is compared bitwise and printed by size, not by content") {
    val a = LabeledPointSet(Seq((0, Double.NaN, 1.0, 2.0), (1, 0.0, 0.0, 0.0)))
    a shouldBe LabeledPointSet(Seq((0, Double.NaN, 1.0, 2.0), (1, 0.0, 0.0, 0.0)))
    a should not be LabeledPointSet(Seq((0, Double.NaN, 1.0, 2.0), (1, -0.0, 0.0, 0.0)))
    a should not be LabeledPointSet(Seq((0, Double.NaN, 1.0, 2.0), (2, 0.0, 0.0, 0.0)))
    a.toString should startWith("LabeledPointSet(n=2,")
  }

  test("generated code does not depend on the bound points") {
    import org.apache.spark.sql.execution.debug._
    val df = frame(cloud(new Random(3), 10, 2, 10))
    def source(set: Seq[P]): String = {
      val q = df.select(PairDistSums.column(LabeledPointSet(set),
        col("cluster"), col("x"), col("y"), col("z")))
      codegenStringSeq(q.queryExecution.executedPlan).map(_._2).mkString("\n")
    }
    val a = source(Seq((0, 1.0, 2.0, 3.0)))
    a should include("graft.functions.PairDistSums.sums(")
    source(cloud(new Random(4), 50, 3, 1e6)) shouldBe a
  }
}
