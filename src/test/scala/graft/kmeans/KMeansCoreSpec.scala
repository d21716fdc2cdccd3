package graft.kmeans

import graft.SparkSpec

/** Hand-computed micro-fixtures for Assign (P2/P3), Recenter (A1),
  * displacement (A7), and the runner loops (C1–C3, C5). Values are powers
  * of two so means and distances are exact in binary floating point.
  */
class KMeansCoreSpec extends SparkSpec {
  import spark.implicits._

  private val seeds = Seq(Point(0, 0, 0), Point(8, 0, 0))

  test("assign picks the nearest centroid, ties to the lowest index") {
    val pts = Seq(
      (1.0, 0.0, 0.0),   // nearest: c0 (d=1 vs 7)
      (7.0, 0.0, 0.0),   // nearest: c1 (d=7 vs 1)
      (4.0, 0.0, 0.0)    // tie (d=4 both) -> c0, reference strict '<'
    ).toDF("x", "y", "z")
    val out = Assign.assign(pts, seeds).select("x", "cluster").as[(Double, Int)].collect().toMap
    out shouldBe Map(1.0 -> 0, 7.0 -> 1, 4.0 -> 0)
  }

  test("a point with a null coordinate gets a null cluster, not cluster 0") {
    val pts = Seq[(Option[Double], Option[Double], Option[Double])](
      (Some(7.0), Some(0.0), Some(0.0)), (None, Some(0.0), Some(0.0)),
      (Some(1.0), Some(0.0), None)).toDF("x", "y", "z")
    val out = Assign.assign(pts, seeds).select("cluster").collect().map(r => Option(r.get(0)))
    out.toSeq shouldBe Seq(Some(1), None, None)
  }

  test("step fails loudly on null-coordinate points instead of skewing a centroid") {
    val pts = Seq[(Option[Double], Option[Double], Option[Double])](
      (Some(1.0), Some(0.0), Some(0.0)), (Some(7.0), Some(0.0), Some(0.0)),
      (Some(2.0), None, Some(0.0))).toDF("x", "y", "z")
    val e = intercept[IllegalArgumentException](KMeansRunner.step(pts, seeds))
    e.getMessage should include("null coordinate")
  }

  test("Lloyd iterations after the first compile no code (centroids are not literals)") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.functions.col
    val rng = new scala.util.Random(42)
    // 4 blobs of 500 integer points; each call draws a new data set
    def blobs() = {
      val cs = Seq.fill(4)((rng.nextInt(1000).toDouble, rng.nextInt(1000).toDouble,
        rng.nextInt(1000).toDouble))
      val rows = for (i <- 0 until 2000) yield {
        val (cx, cy, cz) = cs(i % 4)
        (cx + rng.nextInt(60), cy + rng.nextInt(60), cz + rng.nextInt(60))
      }
      val df = rows.toDF("x", "y", "z").repartition(4).persist()
      df.count()
      df
    }
    def firstK(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("x"), col("y"), col("z")).as[(Double, Double, Double)].head(4)
        .map { case (x, y, z) => Point(x, y, z) }.toSeq
    val warm = blobs()
    KMeansRunner.fixedIterations(warm, firstK(warm), 3)
    warm.unpersist()
    val pts = blobs()
    var compiles = Vector.empty[Long]
    val r = KMeansRunner.fixedIterations(pts, firstK(pts), 5, (_, _, _) =>
      compiles :+= CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    pts.unpersist()
    r.iterations shouldBe 5
    // iterations 2..5: new centroids every time, the same generated code
    (compiles.last - compiles.head) shouldBe 0L
  }

  test("recenter computes per-cluster means; empty clusters vanish") {
    val pts = Seq(
      (0.0, 0.0, 2.0), (2.0, 4.0, 6.0), // cluster 0 -> mean (1, 2, 4)
      (8.0, 2.0, 0.0)                   // cluster 1 -> itself
    ).toDF("x", "y", "z")
    val out = KMeansRunner.step(pts, seeds)
    out shouldBe Seq(0 -> Point(1, 2, 4), 1 -> Point(8, 2, 0))
    // a far-away third centroid receives no points and must be absent
    val out3 = KMeansRunner.step(pts, seeds :+ Point(1e6, 1e6, 1e6))
    out3.map(_._1) shouldBe Seq(0, 1)
  }

  test("displacement is the sum of per-centroid Euclidean moves") {
    val prev = Seq(Point(0, 0, 0), Point(8, 0, 0))
    val curr = Seq(Point(3, 4, 0), Point(8, 0, 2))
    KMeansRunner.displacement(prev, curr) shouldBe 7.0 // 5 + 2
  }

  test("displacement on size mismatch (emptied cluster) forbids convergence") {
    KMeansRunner.displacement(Seq(Point(0, 0, 0)), Seq.empty) shouldBe Double.MaxValue
  }

  test("fixedIterations runs exactly R iterations and keeps history") {
    val pts = Seq((0.0, 0.0, 0.0), (2.0, 0.0, 0.0), (8.0, 0.0, 0.0), (10.0, 0.0, 0.0))
      .toDF("x", "y", "z")
    val r = KMeansRunner.fixedIterations(pts, seeds, 3)
    r.iterations shouldBe 3
    r.history should have size 3
    r.centers shouldBe Seq(0 -> Point(1, 0, 0), 1 -> Point(9, 0, 0))
  }

  test("converge stops early once displacement < threshold, flag set (C5)") {
    val pts = Seq((0.0, 0.0, 0.0), (2.0, 0.0, 0.0), (8.0, 0.0, 0.0), (10.0, 0.0, 0.0))
      .toDF("x", "y", "z")
    val r = KMeansRunner.converge(pts, seeds, maxIter = 30, threshold = 0.5)
    r.converged shouldBe true
    // iter 0 moves centroids to (1,0,0)/(9,0,0); iter 1 moves 0 < 0.5 -> stop
    r.iterations shouldBe 2
    r.displacements.last should be < 0.5
  }

  test("per-iteration hook (C4) fires once per iteration with the assignment") {
    val pts = Seq((0.0, 0.0, 0.0), (2.0, 0.0, 0.0)).toDF("x", "y", "z")
    var calls = Vector.empty[(Int, Long)]
    KMeansRunner.fixedIterations(pts, seeds, 2, (i, _, assigned) =>
      calls :+= (i, assigned.count()))
    calls shouldBe Vector((0, 2L), (1, 2L))
  }

  test("finalCentersLines prints positional indices, not stored cluster ids") {
    val res = KMeansRunner.Result(
      centers = Seq(0 -> Point(1, 1, 1), 3 -> Point(2, 2, 2)), // id 3: gap
      iterations = 1, converged = false, displacements = Seq(1.0), history = Nil)
    val lines = Sinks.finalCentersLines(res)
    lines(1) should startWith("Cluster 0 center")
    lines(2) should startWith("Cluster 1 center") // positional, like Task5A
    lines.last shouldBe "Convergence reached: false"
  }

  test("centroidLines renders Double.toString, id TAB x,y,z") {
    Sinks.centroidLines(Seq(1 -> Point(1.5, 2.0, 3.25))) shouldBe Seq("1\t1.5,2.0,3.25")
  }

  test("farthestPointInit: greedy k-center picks extremes deterministically") {
    val pts = Seq(
      (0.0, 0.0, 0.0), (1.0, 0.0, 0.0), (10.0, 0.0, 0.0), (5.0, 0.0, 0.0)
    ).toDF("x", "y", "z")
    // first = lexicographic max (10), then farthest from it (0), then (5)
    KMeansRunner.farthestPointInit(pts, 3) shouldBe
      Seq(Point(10, 0, 0), Point(0, 0, 0), Point(5, 0, 0))
    // deterministic across partitionings
    KMeansRunner.farthestPointInit(pts.repartition(3), 3) shouldBe
      KMeansRunner.farthestPointInit(pts.coalesce(1), 3)
  }

  test("farthestPointInit stops early when distinct points are exhausted") {
    val pts = Seq((1.0, 1.0, 1.0), (2.0, 2.0, 2.0), (1.0, 1.0, 1.0)).toDF("x", "y", "z")
    KMeansRunner.farthestPointInit(pts, 5) shouldBe Seq(Point(2, 2, 2), Point(1, 1, 1))
  }

  test("farthestPointInit seeds a converging run on the K-Means fixture") {
    val pts = Points.readCsv(spark, fixture("kmeans/points.csv")).cache()
    val seeds = KMeansRunner.farthestPointInit(pts, 5)
    seeds.toSet should have size 5
    val r = KMeansRunner.converge(pts, seeds, maxIter = 30, threshold = 5.0)
    r.converged shouldBe true
    r.centers should have size 5
  }
}
