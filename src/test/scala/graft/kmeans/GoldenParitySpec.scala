package graft.kmeans

import graft.SparkSpec
import graft.eval.Silhouette
import org.apache.spark.sql.DataFrame

/** Replays the reference's own dataset (`3d_points_dataset.csv` +
  * `seed_points_K5.csv`) through the Spark engine and diffs the
  * committed golden outputs under `/root/reference/output/`.
  *
  * The input is pinned to ONE partition: the reference ran a single
  * mapper/reducer, so its floating-point accumulation order is file
  * order; with a single partition ours is too, making centroid values
  * byte-identical (Double.toString roundtrips exactly). Silhouette sums
  * span millions of pairs in engine-dependent order, so those compare
  * with 1e-9 relative tolerance instead.
  */
class GoldenParitySpec extends SparkSpec {

  private lazy val points: DataFrame =
    Points.readCsv(spark, refFile("3d_points_dataset.csv")).coalesce(1).cache()
  private lazy val rawPoints: DataFrame =
    Points.readCsvWithRaw(spark, refFile("3d_points_dataset.csv")).coalesce(1).cache()
  private lazy val seeds: Seq[Point] = Points.readSeeds(refFile("seed_points_K5.csv"))

  private def goldenLines(path: String): Seq[String] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().toList finally src.close()
  }

  test("task1: one iteration reproduces the golden byte-exactly") {
    val centers = KMeansRunner.step(points, seeds)
    Sinks.centroidLines(centers) shouldBe goldenLines(refFile("output/task1/part-r-00000"))
  }

  test("task2: all 5 fixed iterations reproduce the goldens byte-exactly") {
    val r = KMeansRunner.fixedIterations(points, seeds, 5)
    r.iterations shouldBe 5
    for (i <- 0 until 5) {
      withClue(s"iteration_$i: ") {
        Sinks.centroidLines(r.history(i)) shouldBe
          goldenLines(refFile(s"output/task2/iteration_$i/part-r-00000"))
      }
    }
  }

  test("task3: converges at iteration 27 and all 28 snapshots match byte-exactly") {
    val r = KMeansRunner.converge(points, seeds, maxIter = 30, threshold = 5.0)
    r.converged shouldBe true
    r.iterations shouldBe 28
    for (i <- 0 until 28) {
      withClue(s"iteration_$i: ") {
        Sinks.centroidLines(r.history(i)) shouldBe
          goldenLines(refFile(s"output/task3/iteration_$i/part-r-00000"))
      }
    }
  }

  test("task4/5a/5b goldens are identical to task3 (combiner equivalence holds)") {
    // the reference's combiner variants committed byte-identical outputs;
    // our (sum,count) partial aggregation reproduces task3, hence all four.
    val golden3 = goldenLines(refFile("output/task3/iteration_27/part-r-00000"))
    for (t <- Seq("task4", "task5a", "task5b")) {
      goldenLines(refFile(s"output/$t/iteration_27/part-r-00000")) shouldBe golden3
    }
  }

  private def parseMetricLine(line: String): (Int, Double, Double, Double) = {
    // "0\tAvg Intra: <d>, Avg Inter: <d>, Silhouette Score: <d>"
    val Array(id, rest) = line.split("\t", 2)
    val nums = """-?\d+(?:\.\d+(?:E-?\d+)?)?""".r
      .findAllIn(rest.replaceAll("Avg Intra: |Avg Inter: |Silhouette Score: ", ""))
      .toSeq.map(_.toDouble)
    (id.toInt, nums(0), nums(1), nums(2))
  }

  test("Silhouette1: per-cluster metrics match the golden within 1e-9 relative") {
    val assigned = Assign.assign(points, seeds)
    val ours = Silhouette.collectMetrics(assigned, guards = false)
    val golden = goldenLines(refFile("output/Silhouette1/part-r-00000")).map(parseMetricLine)
    ours.map(_._1) shouldBe golden.map(_._1)
    for (((id, a1, a2, a3), (_, g1, g2, g3)) <- ours.zip(golden)) {
      withClue(s"cluster $id: ") {
        math.abs(a1 - g1) should be <= 1e-9 * math.max(1.0, math.abs(g1))
        math.abs(a2 - g2) should be <= 1e-9 * math.max(1.0, math.abs(g2))
        math.abs(a3 - g3) should be <= 1e-9 * math.max(1.0, math.abs(g3))
      }
    }
  }

  /** Splits a clustered-data line into (cluster, centroid string, member
    * multiset). Member ORDER inside a group is not comparable: Hadoop's
    * shuffle merge hands the single reducer its values in spill-segment
    * order, not input order, so byte-level member order is an artifact of
    * the MR runtime, not a semantic. Centroid bytes and the member
    * multiset are the semantics and must match exactly. */
  private def parseClusteredLine(line: String): (Int, String, Map[String, Int]) = {
    val Array(id, rest) = line.split("\t", 2)
    val parts = rest.split("; ").toSeq
    (id.toInt, parts.head, parts.tail.groupBy(identity).view.mapValues(_.size).toMap)
  }

  test("Silhouette2: all 5 iterations' clustered data match (centroid bytes + member multiset)") {
    var prev = seeds
    for (i <- 0 until 5) {
      val assigned = Assign.assign(rawPoints, prev)
      val ours = Sinks.clusteredDataLines(assigned).collect()
        .map(r => parseClusteredLine(s"${r.getInt(0)}\t${r.getString(1)}")).toSeq
      val golden = goldenLines(refFile(s"output/Silhouette2/iteration_$i/part-r-00000"))
        .map(parseClusteredLine)
      withClue(s"iteration_$i: ") { ours shouldBe golden }
      if (i < 4) prev = KMeansRunner.step(points, prev).map(_._2)
    }
  }

  test("Silhouette3: clustered data matches at iterations 0, 9, 18, 27") {
    val r = KMeansRunner.converge(points, seeds, maxIter = 30, threshold = 5.0)
    // iteration i's file is the assignment against iteration i-1's output
    for (i <- Seq(0, 9, 18, 27)) {
      val seedsI = if (i == 0) seeds else r.history(i - 1).map(_._2)
      val assigned = Assign.assign(rawPoints, seedsI)
      val ours = Sinks.clusteredDataLines(assigned).collect()
        .map(r2 => parseClusteredLine(s"${r2.getInt(0)}\t${r2.getString(1)}")).toSeq
      val golden = goldenLines(refFile(s"output/Silhouette3/iteration_$i/part-r-00000"))
        .map(parseClusteredLine)
      withClue(s"iteration_$i: ") { ours shouldBe golden }
    }
  }
}
