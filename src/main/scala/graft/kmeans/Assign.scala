package graft.kmeans

import graft.functions.{CentroidKernels, CentroidSet}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** P2 (Euclidean distance) + P3 (nearest-centroid argmin).
  *
  * The reference computes, per point, a linear scan over K broadcast
  * centroids tracking the min distance (reference `Task1.java:36-54`).
  * Spark-native form: one native codegen'd expression
  * (functions/CentroidKernels) that scans the K centroids with the
  * reference's strict `<`, so ties go to the lowest index (reference
  * `Task1.java:47-50`). The distance is
  * `Math.sqrt(StrictMath.pow(dx, 2) + StrictMath.pow(dy, 2) + StrictMath.pow(dz, 2))`,
  * the calls Spark's own `sqrt(pow(_, 2) + …)` codegen makes, which match
  * the reference formula bit-for-bit (reference `Task1.java:42`). No UDF,
  * no shuffle; stays inside whole-stage codegen and scales linearly with
  * input. The centroids reach generated code as a reference object, not
  * as literals, so every Lloyd iteration reuses one compiled class.
  *
  * A point with a null coordinate gets a null `cluster`.
  */
object Assign {

  /** P3: index of the nearest centroid (0-based), ties to lowest index. */
  def nearestCentroid(centroids: Seq[Point], x: Column, y: Column, z: Column): Column =
    CentroidKernels.nearestCentroid(
      CentroidSet(centroids.map(c => (c.x, c.y, c.z))), x, y, z)

  /** Adds an integer `cluster` column to a DataFrame with x,y,z columns. */
  def assign(points: DataFrame, centroids: Seq[Point]): DataFrame =
    points.withColumn("cluster", nearestCentroid(centroids, col("x"), col("y"), col("z")))
}
