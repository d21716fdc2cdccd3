package graft.kmeans

import graft.functions.{CentroidKernels, CentroidSet}
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** C1–C3, C5: the driver-side iteration loop.
  *
  * The reference runs one Hadoop job per iteration and persists centroid
  * state through HDFS files between jobs (reference `Task3.java:185-218`)
  * — the classic MapReduce iteration tax. Spark-native: points are
  * cached once; each iteration is assign (P3) → re-center (A1) →
  * `collect()` of the K centroid rows to the driver, which is the only
  * process boundary that remains. Centroids are handed to the next
  * iteration through driver memory instead of a file re-read.
  */
object KMeansRunner {

  /** Final state of a run.
    *
    * @param centers       (clusterId, centroid) for every non-empty cluster,
    *                      ascending id — same ordering the reference's
    *                      shuffle-sorted `part-r-00000` files have.
    * @param iterations    number of iterations executed.
    * @param converged     whether Σ-displacement < threshold was reached
    *                      (C5 — the convergence flag the reference README
    *                      promises but `Task5A.java:219` left commented out).
    * @param displacements Σ centroid displacement after each iteration
    *                      (A7, reference `Task3.java:116-128`).
    * @param history       centers after each iteration (element i mirrors the
    *                      reference's `iteration_i/part-r-00000` snapshot).
    */
  case class Result(
      centers: Seq[(Int, Point)],
      iterations: Int,
      converged: Boolean,
      displacements: Seq[Double],
      history: Seq[Seq[(Int, Point)]])

  /** Deterministic farthest-point (k-center greedy) seeding — an init
    * strategy beyond the reference's fixed seed file: the first centroid
    * is the lexicographically-largest point; each next one maximizes the
    * min squared distance to the chosen set (ties again lexicographic).
    * One codegen'd aggregate pass per centroid, no randomness — the same
    * corpus always seeds identically. */
  def farthestPointInit(points: DataFrame, k: Int): Seq[Point] = {
    import org.apache.spark.sql.functions._
    require(k >= 1, "k must be >= 1")
    def d2(c: Point) =
      (col("x") - c.x) * (col("x") - c.x) +
        (col("y") - c.y) * (col("y") - c.y) +
        (col("z") - c.z) * (col("z") - c.z)
    def pick(selector: org.apache.spark.sql.Column): (Point, Double) = {
      val row = points.select(max(selector).as("s")).collect().head
      require(!row.isNullAt(0), "farthestPointInit: no points")
      val r = row.getStruct(0)
      val n = r.size
      val d = if (n == 4) r.getDouble(0) else Double.PositiveInfinity
      (Point(r.getDouble(n - 3), r.getDouble(n - 2), r.getDouble(n - 1)), d)
    }
    var cents = Vector(pick(struct(col("x"), col("y"), col("z")))._1)
    var exhausted = false
    while (cents.size < k && !exhausted) {
      val minD2 = cents.map(d2).reduce(least(_, _))
      val (p, d) = pick(struct(minD2.as("d"), col("x"), col("y"), col("z")))
      // every remaining point coincides with a chosen centroid: stop
      // instead of silently returning duplicate centroids
      if (d == 0.0) exhausted = true else cents :+= p
    }
    cents
  }

  /** k-means|| scalable seeding (Bahmani et al., VLDB 2012) — the
    * parallel init MLlib's own KMeans uses, and the scale path next to
    * [[farthestPointInit]]: the greedy k-center init runs K sequential
    * corpus passes (a driver barrier per centroid — fine for K = 5,
    * wrong for K = 10⁴), while k-means|| finishes in a FIXED number of
    * rounds, each one distributed pass that samples ~oversample·k
    * points with probability ∝ d²(p, C)/cost, then reclusters the
    * small weighted candidate set to k on the driver.
    *
    * Derandomized the house way: the per-point coin is
    * PolyHash("x,y,z#round") / FpMod — content-keyed, so the same
    * corpus always seeds identically and duplicate points draw the
    * same coin (their probabilities are identical anyway). Driver
    * boundaries are the per-round candidate collect (expected
    * oversample·k rows, guarded loudly) and the K-row weight
    * aggregate — the corpus never leaves the executors.
    *
    * Recluster: weights = corpus points nearest each candidate (one
    * distributed assign + count), then deterministic weighted greedy
    * k-center over the candidates followed by weighted Lloyd to a
    * fixed point (driver-side — the candidate set is tiny). Returns
    * min(k, distinct candidates) seeds.
    *
    * rounds = 2 matches MLlib's own initSteps default (reduced from
    * the paper's O(log n) since Spark 2.0 — two oversampled rounds
    * are consistently enough in practice, and each extra round is two
    * more full corpus passes). */
  def scalableInit(points: DataFrame, k: Int, rounds: Int = 2,
                   oversample: Double = 2.0): Seq[Point] = {
    import org.apache.spark.sql.functions._
    require(k >= 1, "k must be >= 1")
    require(rounds >= 1, "rounds must be >= 1")
    // Deliberately NOT persisted (unlike converge): a filter over a
    // cached relation gets its predicate pushed into InMemoryTableScan,
    // where the distance and coin are evaluated OUTSIDE whole-stage
    // codegen — measured (with the distance as a K-term literal `least`
    // chain) 5.5 s/pass cached vs 1.3 s/pass straight off the pruned
    // parquet scan at 600k rows x 30 centers
    // (the aggregate passes cost the same either way). Callers that
    // already persisted their points keep that choice — and pay it.
    locally {
      val first = points.select(max(struct(col("x"), col("y"), col("z"))).as("s"))
        .collect().head
      require(!first.isNullAt(0), "scalableInit: no points")
      val f = first.getStruct(0)
      var cents = Vector(Point(f.getDouble(0), f.getDouble(1), f.getDouble(2)))
      val coinBase = concat_ws(",", col("x"), col("y"), col("z"))
      val fpMod = graft.llm.TextAnalysis.FpMod
      // driver guard: expected candidates per round is oversample*k
      // (Bahmani Thm. 1) — allow an 8x margin before failing loudly
      val candBound = math.max(64 * k + 64, (8 * oversample * k).toInt + 64)
      var r = 0
      var done = false
      while (r < rounds && !done) {
        // min over centers of the multiply-form d², bitwise the
        // `least(d2(c0), d2(c1), …)` chain; the centers are bound to the
        // native kernel, so this column compiles once, not once a round
        val minD2 = CentroidKernels.minSqDist(
          CentroidSet(cents.map(c => (c.x, c.y, c.z))), col("x"), col("y"), col("z"))
        // DECIMAL-grid cost: per-row d² rounds to 18 decimals and sums
        // as DECIMAL — exact, so `cost` is identical under ANY
        // partition layout or row order (a raw double sum differs in
        // low-order bits across layouts, and a boundary coin could
        // flip a candidate in or out, breaking the order-included
        // determinism contract ScalableInitSpec pins). DECIMAL rather
        // than a scaled BIGINT because d² magnitudes vary by corpus
        // (the 1e4-scaled LONG form overflowed on lineitem-scale
        // coordinates); decimal(38,18) carries 20 integer digits of
        // headroom above and 1e-18 resolution below. The DONE check
        // uses max(minD2) — exact and layout-invariant — NOT the
        // gridded sum: a sub-grid corpus (every d² < 5e-19) would
        // underflow the sum to 0 and spuriously stop seeding. If the
        // grid sum underflows while max > 0, n·max upper-bounds cost
        // deterministically (under-sampling only — recluster handles
        // short rounds). OVERFLOW is guarded symmetrically: d² values
        // are capped at 8e19 before the cast (decimal(38,18) tops out
        // just under 1e20, so an uncapped 1e10-scale coordinate corpus
        // would throw CAST_OVERFLOW under ANSI), the sum is try_sum
        // (NULL instead of ARITHMETIC_OVERFLOW when the capped total
        // still exceeds the type), and ANY capped row routes to the
        // n·max fallback — a cap-engaged sum would silently under-count
        // cost and over-sample candidates into the candBound guard.
        val capD2 = 8e19
        val agg = points.select(
          try_sum(when(minD2 < capD2, minD2).otherwise(lit(capD2))
            .cast("decimal(38,18)")).as("c"),
          max(minD2).as("m"),
          count(lit(1)).as("n"),
          count(when(minD2 >= capD2, 1)).as("ncap")).collect().head
        val maxD2 = agg.getDouble(1)
        if (maxD2 == 0.0) done = true // every point IS a center already
        else {
          val dec = agg.getDecimal(0)
          val cost =
            if (agg.getLong(3) == 0L && dec != null && dec.doubleValue() > 0.0)
              dec.doubleValue()
            else maxD2 * agg.getLong(2)
          // TWO INDEPENDENT hashes build the coin: h quantizes to
          // 1/FpMod (~1e-6) on its own — and h = 0 would pass ANY
          // threshold, a probability floor that oversamples rare
          // points ~1000x at 10^8+ rows. The second, independently
          // keyed hash (xxhash64 over the raw coordinates + round)
          // subdivides each h cell, for ~1e-12 true granularity with
          // no zero floor. (An affine transform of h would NOT work:
          // any function of h leaves only FpMod distinct coins.)
          val h = graft.functions.PolyHash(
            concat(coinBase, lit(s"#$r")), fpMod)
          val h2 = pmod(xxhash64(col("x"), col("y"), col("z"), lit(r)), lit(fpMod))
          val coin =
            (h.cast("double") + (h2.cast("double") + 0.5) / fpMod.toDouble) /
              fpMod.toDouble
          val cand = points
            .select(col("x"), col("y"), col("z"), minD2.as("d"))
            .filter(coin * cost < lit(oversample * k) * col("d"))
            .select(col("x"), col("y"), col("z"))
            .limit(candBound)
            .collect()
          require(cand.length < candBound,
            s"scalableInit: round $r sampled >= $candBound candidates " +
              s"(expected ~${oversample * k}/round) — lower oversample*k")
          // sort the batch before appending: filter+collect order is
          // partition-layout-dependent, and seed ORDER is part of the
          // deterministic contract (cluster ids downstream)
          cents = (cents ++ cand.map(row =>
            Point(row.getDouble(0), row.getDouble(1), row.getDouble(2)))
            .sortBy(p => (p.x, p.y, p.z))).distinct
        }
        r += 1
      }
      if (cents.size <= k) cents
      else {
        // weights: corpus points nearest each candidate (K-row boundary)
        val counts = Assign.assign(points, cents)
          .groupBy(col("cluster")).agg(count(lit(1)).as("n"))
          .collect().map(row => row.getInt(0) -> row.getLong(1)).toMap
        val weighted = cents.zipWithIndex.map { case (p, i) =>
          (p, counts.getOrElse(i, 0L).toDouble)
        }
        reclusterWeighted(weighted, k)
      }
    }
  }

  /** Driver-side recluster of the tiny weighted candidate set:
    * deterministic weighted greedy k-center (heaviest candidate first,
    * then argmax weight·min-d², ties to lexicographic point order),
    * refined by weighted Lloyd iterations to a fixed point. */
  private[kmeans] def reclusterWeighted(cand: Seq[(Point, Double)], k: Int): Seq[Point] = {
    def d2(a: Point, b: Point): Double = {
      val dx = a.x - b.x; val dy = a.y - b.y; val dz = a.z - b.z
      dx * dx + dy * dy + dz * dz
    }
    val ord = Ordering.by[(Point, Double), (Double, Double, Double, Double)] {
      case (p, w) => (w, p.x, p.y, p.z)
    }
    val ord4 = Ordering.Tuple4(Ordering.Double.TotalOrdering,
      Ordering.Double.TotalOrdering, Ordering.Double.TotalOrdering,
      Ordering.Double.TotalOrdering)
    var chosen = Vector(cand.max(ord)._1)
    var exhausted = false
    while (chosen.size < k && !exhausted) {
      val scored = cand.map { case (p, w) => (p, w, chosen.map(d2(p, _)).min) }
      val next = scored.maxBy { case (p, w, m) => (w * m, p.x, p.y, p.z) }(ord4)
      if (next._2 * next._3 > 0.0) chosen :+= next._1
      else {
        // the weighted argmax scored 0 — every remaining candidate
        // either duplicates a chosen center (min d² = 0) or carries
        // weight 0. A zero-WEIGHT distinct candidate is still a valid
        // seed (the scaladoc promises min(k, distinct candidates)), so
        // fall back to the unweighted farthest distinct candidate
        // before concluding the set is exhausted.
        scored.filter(_._3 > 0.0) match {
          case Seq() => exhausted = true
          case distinct =>
            chosen :+= distinct.maxBy { case (p, _, m) => (m, p.x, p.y, p.z) }(ord4)._1
        }
      }
    }
    // weighted Lloyd to a fixed point (candidate set is tiny; in exact
    // arithmetic the weighted SSE strictly decreases per move, but
    // floating-point recentering can in principle oscillate between two
    // states without reaching bitwise equality — the iteration cap is
    // the backstop that keeps the driver loop finite either way)
    var prev = Seq.empty[Point]
    var curr: Seq[Point] = chosen
    var iters = 0
    while (prev != curr && iters < 100) {
      iters += 1
      prev = curr
      val groups = cand.groupBy { case (p, _) =>
        curr.indices.minBy(i => (d2(p, curr(i)), i))
      }
      curr = curr.indices.map { i =>
        groups.get(i) match {
          case Some(g) =>
            val w = g.map(_._2).sum
            if (w == 0.0) curr(i)
            else Point(g.map(c => c._1.x * c._2).sum / w,
              g.map(c => c._1.y * c._2).sum / w,
              g.map(c => c._1.z * c._2).sum / w)
          case None => curr(i)
        }
      }
    }
    curr
  }

  /** C1: one iteration — assign + re-center, collecting K rows to the driver.
    * A point with a null coordinate gets a null cluster, which comes back
    * as its own group; that fails here instead of skewing a centroid. */
  def step(points: DataFrame, centroids: Seq[Point]): Seq[(Int, Point)] = {
    val rows = Recenter.recenter(Assign.assign(points, centroids)).collect()
    if (rows.exists(_.isNullAt(0)))
      throw new IllegalArgumentException(
        "KMeansRunner.step: input has points with a null coordinate; " +
          "filter them out first (Points.readCsv does)")
    rows
      .map(r => r.getInt(0) -> Point(r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
      .toSeq
  }

  /** A7: Σ_k dist(prev_k, curr_k), paired positionally like the reference's
    * file-order pairing (reference `Task3.java:116-128`). A size mismatch
    * (an emptied cluster) means "not converged" — the reference guards this
    * with a skip (reference `Task5A.java:138-140`).
    */
  def displacement(prev: Seq[Point], curr: Seq[Point]): Double =
    if (prev.size != curr.size) Double.MaxValue
    else prev.lazyZip(curr).map { (a, b) =>
      math.sqrt(math.pow(b.x - a.x, 2) + math.pow(b.y - a.y, 2) + math.pow(b.z - a.z, 2))
    }.sum

  /** C4: per-iteration hook — called after each iteration with
    * (iterationIndex, centers, assignedDataFrame). The reference runs its
    * silhouette evaluation here (reference `SilhouetteEvaluation2.java:275-278`);
    * sinks can snapshot `iteration_i` files. No-op by default. */
  type IterationHook = (Int, Seq[(Int, Point)], DataFrame) => Unit
  val noHook: IterationHook = (_, _, _) => ()

  /** C2: fixed-R loop (reference `Task2.java:137-155`, R=5). */
  def fixedIterations(points: DataFrame, seeds: Seq[Point], r: Int,
                      hook: IterationHook = noHook): Result =
    run(points, seeds, maxIter = r, threshold = None, hook)

  /** C3: converge-or-max loop (reference `Task3.java:185-218`; maxIter=30,
    * threshold=5 in the reference mains). Checks displacement after each
    * iteration and stops early once it drops below the threshold.
    */
  def converge(points: DataFrame, seeds: Seq[Point],
               maxIter: Int = 30, threshold: Double = 5.0,
               hook: IterationHook = noHook): Result =
    run(points, seeds, maxIter, Some(threshold), hook)

  private def run(points: DataFrame, seeds: Seq[Point],
                  maxIter: Int, threshold: Option[Double],
                  hook: IterationHook = noHook): Result = {
    val managedCache = points.storageLevel == StorageLevel.NONE
    if (managedCache) points.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var prev = seeds
      var centers = Seq.empty[(Int, Point)]
      var history = Vector.empty[Seq[(Int, Point)]]
      var displacements = Vector.empty[Double]
      var converged = false
      var i = 0
      while (i < maxIter && !converged) {
        centers = step(points, prev)
        history :+= centers
        hook(i, centers, Assign.assign(points, prev))
        val curr = centers.map(_._2)
        val d = displacement(prev, curr)
        displacements :+= d
        converged = threshold.exists(d < _)
        prev = curr
        i += 1
      }
      Result(centers, i, converged, displacements, history)
    } finally if (managedCache) points.unpersist()
  }
}
