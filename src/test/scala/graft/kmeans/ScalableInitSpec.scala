package graft.kmeans

import graft.SparkSpec

/** k-means|| seeding (KMeansRunner.scalableInit): determinism, seed
  * count, degenerate corpora, and end-to-end seeding quality vs the
  * greedy k-center init on a well-separated synthetic cloud. */
class ScalableInitSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  // 4 well-separated cluster centers, 40 points each on a deterministic
  // sub-grid around the center (spread < 4, separation 100)
  private lazy val cloud = {
    val centers = Seq(Point(0, 0, 0), Point(100, 0, 0), Point(0, 100, 0), Point(0, 0, 100))
    val pts = for {
      (c, ci) <- centers.zipWithIndex
      i <- 0 until 40
    } yield (c.x + (i % 5) * 0.8, c.y + ((i / 5) % 4) * 0.7, c.z + (i / 20) * 0.9 + ci * 0.01)
    pts.toDF("x", "y", "z")
  }

  private def sse(pts: org.apache.spark.sql.DataFrame, cents: Seq[Point]): Double =
    Assign.assign(pts, cents)
      .select(cents.zipWithIndex.map { case (c, i) =>
        when(col("cluster") === i,
          (col("x") - c.x) * (col("x") - c.x) +
            (col("y") - c.y) * (col("y") - c.y) +
            (col("z") - c.z) * (col("z") - c.z)).otherwise(lit(0.0))
      }.reduce(_ + _).as("d"))
      .agg(sum(col("d"))).collect().head.getDouble(0)

  test("deterministic: the same corpus seeds identically twice") {
    val a = KMeansRunner.scalableInit(cloud, k = 4)
    val b = KMeansRunner.scalableInit(cloud, k = 4)
    a shouldBe b
  }

  test("seeding is partition-count AND row-order invariant, ORDER included") {
    // seed order is part of the contract (it becomes the downstream
    // cluster-id labeling): per-round candidate batches sort before
    // appending, so the collect order of an unordered filter can't leak
    val base = KMeansRunner.scalableInit(cloud.coalesce(1), k = 4)
    KMeansRunner.scalableInit(cloud.repartition(8), k = 4) shouldBe base
    KMeansRunner.scalableInit(cloud.orderBy(col("x").desc, col("y").desc), k = 4) shouldBe base
  }

  test("returns k seeds and converge lands within 5% of the k-center init's SSE") {
    val seeds = KMeansRunner.scalableInit(cloud, k = 4)
    seeds should have size 4
    seeds.distinct should have size 4
    val viaScalable = KMeansRunner.converge(cloud, seeds, maxIter = 20, threshold = 0.001)
    val viaGreedy = KMeansRunner.converge(cloud,
      KMeansRunner.farthestPointInit(cloud, 4), maxIter = 20, threshold = 0.001)
    val s1 = sse(cloud, viaScalable.centers.map(_._2))
    val s2 = sse(cloud, viaGreedy.centers.map(_._2))
    // both inits must find the 4 separated clusters: near-identical SSE
    s1 should be <= s2 * 1.05
  }

  test("seeds are exactly those of the least(...) column chain it replaced") {
    // recorded from the implementation that built minD2 as
    // least(d2(c0), d2(c1), ...) over literal centers; the native
    // min-squared-distance kernel must reproduce every bit, order included
    KMeansRunner.scalableInit(cloud, k = 4) shouldBe Seq(
      Point(2.0800000000000005, 0.9099999999999998, 100.66),
      Point(1.44, 100.89250000000001, 0.2675),
      Point(101.6, 1.2249999999999999, 0.2575),
      Point(1.64, 1.1549999999999998, 0.36))
    KMeansRunner.scalableInit(cloud, k = 3, rounds = 3, oversample = 1.5) shouldBe Seq(
      Point(2.3600000000000003, 50.927499999999995, 0.19),
      Point(1.6, 0.7, 100.93),
      Point(102.08, 2.0999999999999996, 0.27999999999999997))
    KMeansRunner.scalableInit(cloud, k = 6, rounds = 5, oversample = 4.0) shouldBe Seq(
      Point(0.3368421052631579, 100.77368421052631, 0.2568421052631579),
      Point(1.6200000000000003, 1.1199999999999999, 100.43499999999999),
      Point(101.47999999999999, 1.0849999999999995, 0.48249999999999993),
      Point(1.6400000000000001, 1.1199999999999999, 0.45),
      Point(2.9142857142857146, 101.2, 0.02),
      Point(1.6, 102.1, 0.92))
    val fx = Points.readCsv(spark, fixture("kmeans/points.csv"))
    KMeansRunner.scalableInit(fx, k = 5) shouldBe Seq(
      Point(8976.18018018018, 312.67667667667666, 572.2702702702703),
      Point(864.2630541871921, 645.543842364532, 545.3438423645321),
      Point(4871.453465346534, 542.1178217821782, 575.6623762376238),
      Point(3066.5513733468974, 623.3458799593083, 438.72838250254324),
      Point(6813.563947633434, 422.24974823766365, 672.1641490433032))
  }

  test("sub-grid magnitudes: tiny-coordinate corpora still seed fully") {
    // every d² here is < 5e-19 — below the decimal cost grid's
    // resolution. The done-check must use the exact max, and the
    // underflowed cost must fall back to n·max, or seeding would stop
    // at round 0 with a single seed (the regression this pins)
    val pts = Seq(
      (0.0, 0.0, 0.0), (1e-10, 0.0, 0.0), (0.0, 1e-10, 0.0))
      .toDF("x", "y", "z")
    val seeds = KMeansRunner.scalableInit(pts, k = 3, rounds = 8, oversample = 50.0)
    seeds.toSet shouldBe Set(Point(0, 0, 0), Point(1e-10, 0, 0), Point(0, 1e-10, 0))
  }

  test("1e10-scale coordinates: cost grid caps + falls back, never overflows") {
    // d² between these points is ~4e20–1.2e21 — above decimal(38,18)'s
    // ~1e20 integer ceiling, so an uncapped cast would throw
    // CAST_OVERFLOW under ANSI and crash seeding (the regression this
    // pins); the capped rows route cost to the n·max fallback instead
    val pts = Seq(
      (0.0, 0.0, 0.0), (2e10, 0.0, 0.0), (0.0, 2e10, 0.0), (2e10, 2e10, 1e10))
      .toDF("x", "y", "z")
    val seeds = KMeansRunner.scalableInit(pts, k = 4, rounds = 8, oversample = 50.0)
    seeds.toSet shouldBe Set(
      Point(0, 0, 0), Point(2e10, 0, 0), Point(0, 2e10, 0), Point(2e10, 2e10, 1e10))
  }

  test("reclusterWeighted: zero-weight distinct candidates still fill to k") {
    // the weighted argmax tie-breaks to the largest-coordinate point,
    // which here IS the already-chosen heavy center (score 0 because
    // min d² = 0) while two zero-weight DISTINCT candidates remain —
    // the scaladoc contract (min(k, distinct candidates) seeds) demands
    // they be used, not an early return with 1 seed
    val cand = Seq(
      (Point(5, 0, 0), 3.0), (Point(1, 0, 0), 0.0), (Point(2, 0, 0), 0.0))
    val out = KMeansRunner.reclusterWeighted(cand, k = 3)
    out should have size 3
    out.toSet shouldBe Set(Point(5, 0, 0), Point(1, 0, 0), Point(2, 0, 0))
  }

  test("degenerate corpus of one repeated point returns a single seed") {
    val pts = Seq.fill(50)((3.0, 4.0, 5.0)).toDF("x", "y", "z")
    KMeansRunner.scalableInit(pts, k = 5) shouldBe Seq(Point(3, 4, 5))
  }

  test("k larger than distinct points returns every distinct point") {
    val pts = Seq((0.0, 0.0, 0.0), (1.0, 0.0, 0.0), (0.0, 1.0, 0.0))
      .toDF("x", "y", "z")
    val seeds = KMeansRunner.scalableInit(pts, k = 10, rounds = 8, oversample = 50.0)
    seeds.toSet shouldBe Set(Point(0, 0, 0), Point(1, 0, 0), Point(0, 1, 0))
  }
}
