package graft.eval

import scala.util.Random

import graft.SparkSpec
import graft.kmeans.{Assign, Point, Points}
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}

class SilhouetteSpec extends SparkSpec {
  import spark.implicits._

  /** K=2, two points each, all on the x axis — every quantity exact:
    * cluster 0: (0,0,0), (2,0,0); cluster 1: (10,0,0), (12,0,0).
    * intra(0): ordered pairs (2+2)/(2*1) = 2; same for cluster 1.
    * inter(0): dists 10,12,8,10 -> 40/(2*1) = 20.
    * score(0): (20-2)/20 = 0.9.
    * inter(1): same sum 40 -> 20; score 0.9.
    */
  private def microAssigned = Seq(
    (0.0, 0.0, 0.0, 0), (2.0, 0.0, 0.0, 0),
    (10.0, 0.0, 0.0, 1), (12.0, 0.0, 0.0, 1)
  ).toDF("x", "y", "z", "cluster")

  test("metrics matches the hand-computed micro fixture") {
    val m = Silhouette.metrics(microAssigned).collect()
    m.map(_.getInt(0)).toSeq shouldBe Seq(0, 1)
    val c0 = m(0)
    c0.getLong(1) shouldBe 2L
    c0.getDouble(2) shouldBe 2.0   // avg intra
    c0.getDouble(3) shouldBe 20.0  // avg inter (quirk divisor n*(K-1))
    c0.getDouble(4) shouldBe 0.9   // silhouette
  }

  test("guard: single-point clusters are skipped (SilhouetteEvaluation2 semantics)") {
    val df = Seq(
      (0.0, 0.0, 0.0, 0), (2.0, 0.0, 0.0, 0),
      (99.0, 0.0, 0.0, 1) // singleton
    ).toDF("x", "y", "z", "cluster")
    val m = Silhouette.metrics(df, guards = true).collect()
    m.map(_.getInt(0)).toSeq shouldBe Seq(0)
  }

  test("guard: all-identical points (zero distances) produce no score row") {
    val df = Seq(
      (1.0, 1.0, 1.0, 0), (1.0, 1.0, 1.0, 0)
    ).toDF("x", "y", "z", "cluster")
    Silhouette.metrics(df, guards = true).collect() shouldBe empty
  }

  test("single cluster: avg inter is 0 (no neighboring clusters)") {
    val df = Seq(
      (0.0, 0.0, 0.0, 0), (2.0, 0.0, 0.0, 0)
    ).toDF("x", "y", "z", "cluster")
    val m = Silhouette.metrics(df, guards = true).collect()
    m.head.getDouble(3) shouldBe 0.0
    // score = (0 - 2) / max(2, 0) = -1
    m.head.getDouble(4) shouldBe -1.0
  }

  test("metricLines renders the reference text format") {
    Silhouette.metricLines(Seq((0, 1.5, 2.5, 0.4))) shouldBe
      Seq("0\tAvg Intra: 1.5, Avg Inter: 2.5, Silhouette Score: 0.4")
  }

  test("silhouette of reference-converged clustering is near 1 on separated data") {
    // sanity: two tight blobs far apart
    val pts = (0 until 20).map(i => (i % 10 * 0.1, 0.0, 0.0)) ++
      (0 until 20).map(i => (1000.0 + i % 10 * 0.1, 0.0, 0.0))
    val assigned = Assign.assign(pts.toDF("x", "y", "z"),
      Seq(Point(0, 0, 0), Point(1000, 0, 0)))
    val m = Silhouette.metrics(assigned).collect()
    all(m.map(_.getDouble(4))) should be > 0.99
  }

  test("collectMetrics leaves no cached frame behind") {
    // points no other test uses, so no earlier cache entry matches the plan
    val df = Seq((0.5, 0.0, 0.0, 0), (2.5, 0.0, 0.0, 0), (10.5, 0.0, 0.0, 1), (12.5, 0.0, 0.0, 1))
      .toDF("x", "y", "z", "cluster")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    Silhouette.collectMetrics(df, guards = true) should have size 2
    Silhouette.collectMetrics(df, guards = false) should have size 2
    sc.getPersistentRDDs.keySet shouldBe before
  }

  // ---- equivalence with the former two-self-join formulation ----

  /** `metrics` as it was computed before the distance-sum kernel: an
    * equi self-join for the intra pairs and a theta self-join for the
    * inter pairs, each summing the per-pair distance column. */
  private def joinMetrics(assigned: DataFrame, guards: Boolean): DataFrame = {
    def sq(c: Column) = c * c
    val pairDist = sqrt(sq(col("a.x") - col("b.x")) + sq(col("a.y") - col("b.y")) +
      sq(col("a.z") - col("b.z")))
    val pts = assigned.select(col("cluster"), col("x"), col("y"), col("z"))
    val a = pts.as("a")
    val b = pts.as("b")
    val sizes = pts.groupBy(col("cluster")).agg(count(lit(1)).as("n"))
    val intra = a.join(b, col("a.cluster") === col("b.cluster"))
      .groupBy(col("a.cluster").as("cluster"))
      .agg(sum(pairDist).as("intra_sum"))
    val inter = a.join(b, col("a.cluster") =!= col("b.cluster"))
      .groupBy(col("a.cluster").as("cluster"))
      .agg(sum(pairDist).as("inter_sum"), countDistinct(col("b.cluster")).as("neighbors"))
    val joined = sizes
      .join(intra, Seq("cluster"), "left")
      .join(inter, Seq("cluster"), "left")
      .withColumn("avg_intra",
        when(col("n") > 1, coalesce(col("intra_sum"), lit(0.0)) / (col("n") * (col("n") - 1)))
          .otherwise(lit(0.0)))
      .withColumn("avg_inter",
        when(coalesce(col("neighbors"), lit(0L)) > 0,
          col("inter_sum") / (col("n") * col("neighbors")))
          .otherwise(lit(0.0)))
      .withColumn("silhouette",
        (col("avg_inter") - col("avg_intra")) / greatest(col("avg_intra"), col("avg_inter")))
      .select(col("cluster"), col("n"), col("avg_intra"), col("avg_inter"), col("silhouette"))
    val guarded =
      if (guards) joined.filter(col("n") > 1).filter(col("avg_intra") > 0 || col("avg_inter") > 0)
      else joined
    guarded.orderBy(col("cluster"))
  }

  private type LP = (Option[Int], Double, Double, Double)

  private val assignedSchema = StructType(StructField("cluster", IntegerType) +:
    Seq("x", "y", "z").map(StructField(_, DoubleType)))

  private def assignedFrame(pts: Seq[LP]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      pts.map { case (c, x, y, z) => Row(c.orNull, x, y, z) }, 3), assignedSchema)

  private type Out = Seq[(Option[Int], Long, Option[Double], Option[Double], Option[Double])]

  /** (cluster, n, avg_intra, avg_inter, silhouette) with nulls as None, or
    * the error condition the evaluation raised. */
  private def outcome(rows: => Array[Row]): Either[String, Out] =
    try Right(rows.toSeq.map { r =>
      def d(i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
      (if (r.isNullAt(0)) None else Some(r.getInt(0)), r.getLong(1), d(2), d(3), d(4))
    }) catch { case e: SparkThrowable => Left(e.getCondition) }

  private def close(a: Option[Double], b: Option[Double]): Boolean = (a, b) match {
    case (Some(x), Some(y)) =>
      (x.isNaN && y.isNaN) || x == y || math.abs(x - y) <= 1e-12 * math.max(math.abs(x), math.abs(y))
    case (None, None) => true
    case _ => false
  }

  /** The kernel formulation against the join formulation, both guard
    * settings: the same error, or cluster and n exact and averages and
    * score to 1e-12 relative (only the summation order differs). Returns
    * the kernel formulation's v1 (unguarded) outcome. */
  private def checkEquivalent(pts: Seq[LP]): Either[String, Out] =
    Seq(true, false).map { guards =>
      val df = assignedFrame(pts)
      val expected = outcome(joinMetrics(df, guards).collect())
      val actual = outcome {
        val m = Silhouette.metrics(df, guards)
        try m.collect() finally m.unpersist(false)
      }
      withClue(s"guards=$guards: ") {
        (actual, expected) match {
          case (Right(a), Right(e)) =>
            a.map(r => (r._1, r._2)) shouldBe e.map(r => (r._1, r._2))
            for ((ar, er) <- a.zip(e)) withClue(s"cluster ${ar._1}: $ar vs $er: ") {
              close(ar._3, er._3) shouldBe true
              close(ar._4, er._4) shouldBe true
              close(ar._5, er._5) shouldBe true
            }
          case _ => actual shouldBe expected
        }
      }
      actual
    }.last

  private def withAnsi[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.ansi.enabled"
    val saved = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try body finally spark.conf.set(key, saved)
  }

  private def cloud(rng: Random, n: Int, k: Int): Seq[LP] =
    Seq.fill(n) {
      val c = rng.nextInt(k)
      (Some(c), c * 40 + rng.nextGaussian() * 15, rng.nextGaussian() * 15, rng.nextGaussian() * 15)
    }

  test("equivalent to the self-join formulation on seeded clouds") {
    for (seed <- 1 to 3) checkEquivalent(cloud(new Random(seed), 150 * seed, 2 + seed))
  }

  test("equivalent with a singleton cluster and with duplicate points") {
    val rng = new Random(21)
    val base = cloud(rng, 200, 4)
    checkEquivalent(base :+ ((Some(9), 500.0, 500.0, 500.0)))
    checkEquivalent(base ++ base.take(60) ++ base.take(10))
  }

  test("equivalent on a single cluster, where avg inter is 0") {
    checkEquivalent(cloud(new Random(22), 120, 1))
  }

  // v1 keeps rows whose two averages are both 0, and their score 0 / 0
  // fails under ANSI division in either formulation; without ANSI it is null
  test("equivalent on all-identical points") {
    val pts = Seq.tabulate(30)(i => (Some(i % 3), 1.5, -2.0, 7.0))
    checkEquivalent(pts) shouldBe Left("DIVIDE_BY_ZERO")
    withAnsi(false)(checkEquivalent(pts)).map(_.map(_._5)) shouldBe Right(Seq.fill(3)(None))
  }

  test("equivalent with null-cluster rows (kept in v1, where their score divides 0 by 0)") {
    val rng = new Random(23)
    val pts = cloud(rng, 200, 3) ++ Seq.fill(7)((None, rng.nextGaussian(), 0.0, 1.0))
    checkEquivalent(pts) shouldBe Left("DIVIDE_BY_ZERO")
    val v1 = withAnsi(false)(checkEquivalent(pts)).toOption.get
    v1.head shouldBe ((None, 7L, Some(0.0), Some(0.0), None))
  }

  test("equivalent with a NaN coordinate") {
    val rng = new Random(24)
    checkEquivalent(cloud(rng, 150, 3) :+ ((Some(1), Double.NaN, 0.0, 0.0)))
  }

  // ---- the reference's nested loops on the in-repo K-Means fixture ----

  /** Plain-Scala transcription of the reference's per-cluster loops
    * (`SilhouetteEvaluation.java:98-136`, guards of
    * `SilhouetteEvaluation2.java:201-204, 243-249`), clusters in id order. */
  private def nestedLoops(pts: Seq[(Int, Double, Double, Double)],
                          guards: Boolean): Seq[(Int, Double, Double, Double)] = {
    def dist(p: (Int, Double, Double, Double), q: (Int, Double, Double, Double)) =
      math.sqrt(math.pow(p._2 - q._2, 2) + math.pow(p._3 - q._3, 2) + math.pow(p._4 - q._4, 2))
    val byCluster = pts.groupBy(_._1).toSeq.sortBy(_._1)
    byCluster.flatMap { case (id, members) =>
      val n = members.size
      if (guards && n <= 1) None
      else {
        var intra = 0.0
        for (i <- members.indices; j <- members.indices if i != j) intra += dist(members(i), members(j))
        val avgIntra = if (n > 1) intra / (n.toDouble * (n - 1)) else 0.0
        var inter = 0.0
        var others = 0
        for ((other, os) <- byCluster if other != id) {
          others += 1
          for (p <- members; q <- os) inter += dist(p, q)
        }
        val avgInter = if (others > 0) inter / (n.toDouble * others) else 0.0
        val score = (avgInter - avgIntra) / math.max(avgIntra, avgInter)
        if (guards && !(avgIntra > 0 || avgInter > 0)) None
        else Some((id, avgIntra, avgInter, score))
      }
    }
  }

  test("collectMetrics matches the reference's nested loops on the K-Means fixture (v1 and v2/v3)") {
    val assigned = Assign.assign(Points.readCsv(spark, fixture("kmeans/points.csv")),
      Points.readSeeds(fixture("kmeans/seeds_k5.csv")))
    val pts = assigned.select(col("cluster"), col("x"), col("y"), col("z")).collect().toSeq
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    for (guards <- Seq(false, true)) {
      val ours = Silhouette.collectMetrics(assigned, guards)
      val expected = nestedLoops(pts, guards)
      ours.map(_._1) shouldBe expected.map(_._1)
      for (((id, a1, a2, a3), (_, g1, g2, g3)) <- ours.zip(expected))
        withClue(s"guards=$guards cluster $id: ") {
          math.abs(a1 - g1) should be <= 1e-9 * math.max(1.0, math.abs(g1))
          math.abs(a2 - g2) should be <= 1e-9 * math.max(1.0, math.abs(g2))
          math.abs(a3 - g3) should be <= 1e-9 * math.max(1.0, math.abs(g3))
        }
    }
  }
}
