package graft.kmeans

import graft.SparkSpec
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.feature.VectorAssembler

/** Sanity cross-check against MLlib (SURVEY §7 extension): our converged
  * clustering on the in-repo K-Means fixture (5,000 points, K = 5 seeds;
  * see FIXTURES.md) should be at least as good as MLlib's KMeans at the
  * same K, measured by within-cluster SSE. Not a parity test — MLlib uses
  * different init/stopping — just a guard that the engine's clustering
  * quality is in the library's league. */
class MLlibCrossCheckSpec extends SparkSpec {

  private lazy val pts = Points.readCsv(spark, fixture("kmeans/points.csv")).cache()
  private lazy val seeds = Points.readSeeds(fixture("kmeans/seeds_k5.csv"))

  private def sse(pts: org.apache.spark.sql.DataFrame, centers: Seq[Point]): Double = {
    import org.apache.spark.sql.functions._
    val assigned = Assign.assign(pts, centers)
    val cx = array(centers.map(c => lit(c.x)): _*)(col("cluster"))
    val cy = array(centers.map(c => lit(c.y)): _*)(col("cluster"))
    val cz = array(centers.map(c => lit(c.z)): _*)(col("cluster"))
    assigned.select(sum(
      (col("x") - cx) * (col("x") - cx) +
        (col("y") - cy) * (col("y") - cy) +
        (col("z") - cz) * (col("z") - cz)).as("sse"))
      .collect().head.getDouble(0)
  }

  /** MLlib's converged training cost at K=5 (k-means|| init, seed 42)
    * — the shared baseline both SSE cross-checks compare against. */
  private def mllibSse(pts: org.apache.spark.sql.DataFrame): Double = {
    val features = new VectorAssembler()
      .setInputCols(Array("x", "y", "z")).setOutputCol("features")
      .transform(pts)
    new KMeans().setK(5).setSeed(42L).setMaxIter(30)
      .fit(features).summary.trainingCost
  }

  test("converged SSE is within 10% of MLlib KMeans on the K-Means fixture") {
    val r = KMeansRunner.converge(pts, seeds, maxIter = 30, threshold = 5.0)
    val ours = sse(pts, r.centers.map(_._2))
    val theirs = mllibSse(pts)
    withClue(s"ours=$ours mllib=$theirs: ") {
      ours should be <= theirs * 1.10
    }
  }

  /** The stronger check the SURVEY §7 / BASELINE north star names: seeded
    * identically and run to the exact fixed point (tol = 0), the
    * hand-rolled converge loop and MLlib's Lloyd iteration must land on
    * the SAME centroids. The `ml` API has no initial-model setter, so
    * this uses the `mllib` RDD API (`setInitialModel`), whose center
    * array preserves seed order — center i stays cluster i, matching our
    * seed-index cluster ids. Not a contract query: an iterative
    * fixed-point comparison isn't SQL-expressible (documented in
    * COVERAGE.md); this spec is the check. MLlib assigns with its own
    * distance code, so it is also an independent check of the native
    * nearest-centroid kernel. */
  test("same seeds + tol=0: MLlib lands on the converge-loop fixed point") {
    import org.apache.spark.mllib.clustering.{KMeans => RddKMeans, KMeansModel}
    import org.apache.spark.mllib.linalg.Vectors

    // threshold 0.0 can never satisfy d < 0, so the loop runs until the
    // assignment partition stabilizes — at which point recomputed means
    // are bitwise-identical doubles and displacement is exactly 0.0
    val r = KMeansRunner.converge(pts, seeds, maxIter = 100, threshold = 0.0)
    r.displacements.last shouldBe 0.0
    r.centers should have size seeds.size.toLong

    val data = pts.select("x", "y", "z").rdd
      .map(row => Vectors.dense(row.getDouble(0), row.getDouble(1), row.getDouble(2)))
      .cache()
    val init = new KMeansModel(seeds.map(c => Vectors.dense(c.x, c.y, c.z)).toArray)
    val model = new RddKMeans()
      .setK(seeds.size).setMaxIterations(100).setEpsilon(0.0)
      .setInitialModel(init)
      .run(data)

    // same fixed point: identical stabilized partitions mean the only
    // residual is parallel-sum association order (~1e-12 relative), so
    // compare per coordinate at 1e-6 relative-or-absolute
    val theirs = model.clusterCenters
    for ((id, p) <- r.centers) {
      val m = theirs(id).toArray
      val diffs = Seq(p.x - m(0), p.y - m(1), p.z - m(2))
      for ((d, ours) <- diffs.zip(Seq(p.x, p.y, p.z)))
        withClue(s"cluster $id ours=$p mllib=${m.toSeq}: ") {
          math.abs(d) should be <= 1e-6 * math.max(1.0, math.abs(ours))
        }
    }
  }

  /** Init-quality cross-check: seeds from the derandomized k-means||
    * (`scalableInit`, MLlib's own init strategy with the repo's
    * content-hash coin) converged through our loop should land in the
    * same quality league as MLlib's randomized k-means|| — SSE within
    * 10% — on the K-Means fixture. */
  test("scalableInit seeds converge within 10% of MLlib's k-means|| SSE") {
    val seeds = KMeansRunner.scalableInit(pts, k = 5)
    seeds should have size 5
    val r = KMeansRunner.converge(pts, seeds, maxIter = 30, threshold = 5.0)
    val ours = sse(pts, r.centers.map(_._2))
    val theirs = mllibSse(pts) // MLlib uses k-means|| init itself
    withClue(s"ours=$ours mllib=$theirs: ") {
      ours should be <= theirs * 1.10
    }
  }
}
