package graft.eval

import graft.functions.{LabeledPointSet, PairDistSums}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.storage.StorageLevel

/** A4–A6 + J2 + S7: the reference's (non-standard, cluster-level)
  * Silhouette evaluation, re-expressed as one per-point distance-sum
  * kernel + hash aggregation.
  *
  * Reference semantics (replicated exactly, quirks included):
  *   - avgIntra (A4): Σ dist over ORDERED pairs i≠j within a cluster,
  *     divided by n·(n−1)                 (reference `SilhouetteEvaluation.java:98-111`)
  *   - avgInter (A5): Σ dist(p,q) for p in the cluster, q in ANY other
  *     cluster, divided by n·(#other non-empty clusters) — note the
  *     divisor counts CLUSTERS, not points  (reference `SilhouetteEvaluation.java:113-132`)
  *   - score (A6): (avgInter − avgIntra) / max(avgIntra, avgInter)
  *                                        (reference `SilhouetteEvaluation.java:134-136`)
  *   - guards (v2/v3 only): clusters with n ≤ 1 are skipped
  *     (reference `SilhouetteEvaluation2.java:201-204`); a score is emitted only
  *     when avgIntra > 0 or avgInter > 0 (reference `SilhouetteEvaluation2.java:243-249`).
  *     v1 (`SilhouetteEvaluation.java`) has neither guard.
  *
  * Spark-first formulation: the reference collects every point of every
  * cluster into one reducer / the driver and runs O(n²) nested loops on a
  * single thread. Here the labeled points are collected ONCE into a
  * [[graft.functions.LabeledPointSet]] and bound to the native
  * [[graft.functions.PairDistSums]] expression, which gives each point its
  * (intra, inter) distance sums in one scan of the set. The pair space
  * never becomes rows: the O(n²) work is a projection over the points,
  * repartitioned across every core, followed by one K-row aggregation.
  *   - The collect moves the same bytes as the former formulation: the
  *     inter-cluster theta join could only run as a broadcast nested-loop
  *     join, whose build side was this very point set, shipped through
  *     the driver to every executor.
  *   - The i≠j exclusion is free — dist(i,i)=0 contributes nothing to the
  *     sum, and the n·(n−1) divisor comes from the row count.
  *   - The neighbor count is the number of distinct non-null clusters
  *     minus one, known on the driver from the collected set.
  *
  * Scale note: the exact pair space is inherently O(n²) — this is the
  * reference's semantics, not an implementation choice — and the exact
  * path needs the point set to fit the driver, as the broadcast did. At
  * 100 TB run it on a deterministic sample (`sampled`) — Euclidean
  * distance sums do not decompose algebraically (unlike squared
  * distances), so subsampling is the honest scale path and preserves the
  * metric within sampling error.
  */
object Silhouette {

  /** Computes per-cluster (cluster, n, avg_intra, avg_inter, silhouette)
    * from an assigned DataFrame with columns x, y, z, cluster.
    *
    * @param guards if true, apply the v2/v3 guards (drop n≤1 clusters and
    *               zero-distance scores); if false, v1 semantics (no guards:
    *               a cluster whose averages are both 0 — all-identical
    *               points, or the null-cluster row — divides 0 by 0, which
    *               fails under ANSI division and is null without it).
    */
  def metrics(assigned: DataFrame, guards: Boolean = true): DataFrame = {
    // persist: the points feed the collect and the kernel pass; spread
    // over every core, since the kernel pass is the O(n²) stage
    val pts = assigned
      .select(col("cluster"), col("x").cast(DoubleType).as("x"),
        col("y").cast(DoubleType).as("y"), col("z").cast(DoubleType).as("z"))
      .repartition(assigned.sparkSession.sparkContext.defaultParallelism)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val labeled = pts.filter(col("cluster").isNotNull).collect()
    // a null distance added nothing to the pair sums, so a point with a
    // null coordinate leaves the set but still counts as a neighbor
    val set = LabeledPointSet(labeled.toSeq.collect {
      case r if !r.isNullAt(1) && !r.isNullAt(2) && !r.isNullAt(3) =>
        (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
    })
    // A5's divisor: other non-empty clusters, for non-null clusters only
    val neighbors = labeled.iterator.map(_.getInt(0)).toSet.size - 1

    val scored = pts
      .select(col("cluster"),
        PairDistSums.column(set, col("cluster"), col("x"), col("y"), col("z")).as("s"))
      .groupBy(col("cluster"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("s.intra")).as("intra_sum"),
        sum(col("s.inter")).as("inter_sum"))
      .withColumn("neighbors", when(col("cluster").isNotNull, lit(neighbors)))
      .withColumn("avg_intra",
        when(col("n") > 1, coalesce(col("intra_sum"), lit(0.0)) / (col("n") * (col("n") - 1)))
          .otherwise(lit(0.0)))
      .withColumn("avg_inter",
        when(coalesce(col("neighbors"), lit(0)) > 0,
          col("inter_sum") / (col("n") * col("neighbors")))
          .otherwise(lit(0.0)))
      .withColumn("silhouette",
        (col("avg_inter") - col("avg_intra")) /
          greatest(col("avg_intra"), col("avg_inter")))
      .select(col("cluster"), col("n"), col("avg_intra"), col("avg_inter"), col("silhouette"))

    val guarded =
      if (guards)
        scored.filter(col("n") > 1)
          .filter(col("avg_intra") > 0 || col("avg_inter") > 0)
      else scored
    // materialize the K-row result, then release the (large) cached
    // points — per-iteration callers (C4 hook, cli.Silhouette2/3) would
    // otherwise accumulate one cached point set per call for the life of
    // the session. Callers may unpersist the returned frame.
    val out = guarded.orderBy(col("cluster"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    pts.unpersist(false)
    out
  }

  /** Scale path: same metric over a deterministic Bernoulli sample. The
    * divisors adapt to the sampled counts, so the averages remain unbiased
    * estimates of the full-data metric. */
  def sampled(assigned: DataFrame, fraction: Double, seed: Long = 42L,
              guards: Boolean = true): DataFrame =
    metrics(assigned.sample(withReplacement = false, fraction, seed), guards)

  /** S7: reference metric text lines
    * `clusterId\tAvg Intra: <d>, Avg Inter: <d>, Silhouette Score: <d>`
    * (reference `SilhouetteEvaluation.java:138-139`), Double.toString rendering.
    */
  def metricLines(metrics: Seq[(Int, Double, Double, Double)]): Seq[String] =
    metrics.map { case (id, intra, inter, s) =>
      s"$id\tAvg Intra: $intra, Avg Inter: $inter, Silhouette Score: $s"
    }

  /** Collects `metrics` output to (cluster, avgIntra, avgInter, silhouette). */
  def collectMetrics(assigned: DataFrame, guards: Boolean = true): Seq[(Int, Double, Double, Double)] = {
    val m = metrics(assigned, guards)
    try m.collect().toSeq.map { r =>
      (r.getInt(0), r.getDouble(2), r.getDouble(3), r.getDouble(4))
    } finally m.unpersist(false)
  }
}
