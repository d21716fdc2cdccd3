package graft.functions

import scala.util.Random

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** The native nearest-centroid kernels against the column expressions
  * they replace, built here as the K-Means code used to build them:
  * `array_min(array(struct(sqrt(pow(x - cx, 2) + …), i) …)).idx` for the
  * label and the multiply-form `least(d2(c0), d2(c1), …)` chain for the
  * least squared distance. Labels must be equal and distances bitwise
  * equal, through generated code and through interpreted evaluation. */
class CentroidKernelsSpec extends SparkSpec {

  private type C = (Double, Double, Double)

  private def oldNearest(cs: Seq[C]): Column =
    array_min(array(cs.zipWithIndex.map { case ((cx, cy, cz), i) =>
      struct(
        sqrt(pow(col("x") - cx, 2) + pow(col("y") - cy, 2) + pow(col("z") - cz, 2)).as("d"),
        lit(i).as("idx"))
    }: _*)).getField("idx")

  private def oldMinSq(cs: Seq[C]): Column =
    cs.map { case (cx, cy, cz) =>
      (col("x") - cx) * (col("x") - cx) + (col("y") - cy) * (col("y") - cy) +
        (col("z") - cz) * (col("z") - cz)
    }.reduce(least(_, _))

  private val schema = StructType(Seq("x", "y", "z").map(StructField(_, DoubleType)))

  /** An RDD-backed frame: a projection over a local Seq would be folded
    * by the optimizer and never reach generated code. */
  private def frame(pts: Seq[C]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(pts.map { case (x, y, z) => Row(x, y, z) }, 3), schema)

  /** (old label, new label, old d², new d²) per point, in input order. */
  private def evaluate(pts: Seq[C], cs: Seq[C]): Seq[(Int, Int, Long, Long)] = {
    val set = CentroidSet(cs)
    frame(pts).select(
      oldNearest(cs), CentroidKernels.nearestCentroid(set, col("x"), col("y"), col("z")),
      oldMinSq(cs), CentroidKernels.minSqDist(set, col("x"), col("y"), col("z")))
      .collect().toSeq
      .map(r => (r.getInt(0), r.getInt(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)),
        java.lang.Double.doubleToLongBits(r.getDouble(3))))
  }

  private def interpreted[T](body: => T): T = {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Both evaluation paths agree with the old expressions, and with each other. */
  private def check(pts: Seq[C], cs: Seq[C]): Seq[(Int, Int, Long, Long)] = {
    val generated = evaluate(pts, cs)
    for (((oldL, newL, oldD, newD), p) <- generated.zip(pts))
      withClue(s"point $p centroids $cs: ") {
        newL shouldBe oldL
        newD shouldBe oldD
      }
    interpreted(evaluate(pts, cs)) shouldBe generated
    generated
  }

  private def cloud(rng: Random, n: Int, scale: Double): Seq[C] =
    Seq.fill(n)((rng.nextGaussian() * scale, rng.nextGaussian() * scale, rng.nextGaussian() * scale))

  test("seeded clouds with negative coordinates: labels and d² match the column forms") {
    for (seed <- 1 to 3) {
      val rng = new Random(seed)
      val cs = cloud(rng, 2 + seed * 3, 500)
      check(cloud(rng, 400, 600), cs)
    }
  }

  test("exact ties go to the lowest index, duplicate centroids to the first copy") {
    val rng = new Random(7)
    // integer points against centroids symmetric about x = 0: every point
    // with x = 0 is equidistant from c0 and c1
    val pts = Seq.fill(300)((rng.nextInt(3) - 1.0, rng.nextInt(21) - 10.0, rng.nextInt(21) - 10.0))
    val cs = Seq((-4.0, 0.0, 0.0), (4.0, 0.0, 0.0), (0.0, 9.0, 0.0), (-4.0, 0.0, 0.0))
    val out = check(pts, cs)
    out.zip(pts).filter(_._2._1 == 0.0).map(_._1._2).toSet should not contain 1
    out.map(_._2) should not contain 3 // the duplicate of c0 never wins
    out.map(_._2).toSet should contain allOf (0, 1)
  }

  test("K = 1 labels every point 0") {
    val pts = cloud(new Random(11), 200, 100)
    check(pts, Seq((1.0, -2.0, 3.0))).map(_._2).toSet shouldBe Set(0)
  }

  test("NaN distances order above every number, as Spark's ordering does") {
    val nan = Double.NaN
    val pts = Seq((0.0, 0.0, 0.0), (nan, 1.0, 1.0), (5.0, nan, 5.0), (9.0, 9.0, 9.0),
      (Double.PositiveInfinity, 0.0, 0.0), (-0.0, 0.0, -0.0))
    // a NaN centroid gives NaN distances to every point
    val cs = Seq((nan, 0.0, 0.0), (1.0, 1.0, 1.0), (8.0, 8.0, nan), (9.0, 9.0, 9.0))
    val out = check(pts, cs)
    out.map(_._2) shouldBe Seq(1, 0, 0, 3, 1, 1)
  }

  test("a null coordinate yields null on both paths") {
    val cs = CentroidSet(Seq((0.0, 0.0, 0.0), (1.0, 1.0, 1.0)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row(null, 1.0, 1.0), Row(1.0, 1.0, 1.0)), 2), schema)
    def run() = df.select(
      CentroidKernels.nearestCentroid(cs, col("x"), col("y"), col("z")),
      CentroidKernels.minSqDist(cs, col("x"), col("y"), col("z")))
      .collect().toSeq.map(r => (Option(r.get(0)), Option(r.get(1))))
    val expected = Seq((None, None), (Some(1), Some(0.0)))
    run() shouldBe expected
    interpreted(run()) shouldBe expected
  }

  test("generated code does not depend on the centroid values") {
    // two centroid sets of one K: the whole-stage source must be the same
    // text, which is what lets Spark's code cache serve every iteration
    import org.apache.spark.sql.execution.debug._
    val df = frame(cloud(new Random(3), 10, 10))
    def source(cs: Seq[C]): String = {
      val q = df.select(CentroidKernels.nearestCentroid(CentroidSet(cs), col("x"), col("y"), col("z")))
      codegenStringSeq(q.queryExecution.executedPlan).map(_._2).mkString("\n")
    }
    val a = source(Seq((1.0, 2.0, 3.0), (4.0, 5.0, 6.0)))
    a should include("graft.functions.CentroidKernels.nearest(")
    source(Seq((-7.5, 0.25, 1e9), (3.0, 3.0, 3.0))) shouldBe a
  }
}
