package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Seeded k-means on the driver, over a bounded learning sample — the
  * model fit of the ANN family (PQ sub-codebooks, IVF and IVFADC coarse
  * centroids). The models are tiny (k·dim doubles) and the fit runs on
  * a few thousand points, so a local loop beats a chain of Spark jobs
  * per iteration; the corpus-side work stays in Spark (the sample
  * collect, then codegen'd assignment against the fitted centroids).
  *
  * k-means++ initialisation from a `java.util.Random(seed)`, then Lloyd
  * iterations until no assignment changes or 20 have run (spark.ml's
  * default cap). Distance ties go to the lowest centroid index (strict
  * `<`, the [[NearestCentroidExpr]] contract), and a cluster left empty
  * keeps its previous centroid. Points must be finite, so no centroid
  * is ever NaN.
  *
  * The fit is single-threaded and costs about 20·n·k·dim flops on a
  * sample of n = max(4096, 256·k) points: quadratic in k, so it is
  * meant for small models (k up to a few hundred), not a large nlist.
  */
object KMeansLocal {

  /** Learning-sample size for `k` centroids: Jégou et al.'s practice of
    * fitting on a bounded sample, a few hundred points per centroid. */
  def sampleCap(k: Int): Int = math.max(4096, 256 * k)

  /** A deterministic, bounded learning sample of the vectors `vec` of
    * `df`: the first [[sampleCap]] rows by `xxhash64` of the vector
    * (hash order, so the sample is not biased toward small first
    * coordinates), collected to the driver. A null vector fails loudly;
    * a null element reads as NaN, which [[fit]] rejects. */
  def sample(df: DataFrame, vec: Column, k: Int): Array[Array[Double]] =
    df.select(vec.as("v")).orderBy(xxhash64(col("v")), col("v"))
      .limit(sampleCap(k)).collect().map { r =>
        require(!r.isNullAt(0), "null vector in the k-means learning sample")
        r.getSeq[java.lang.Double](0)
          .map(x => if (x == null) Double.NaN else x.doubleValue).toArray
      }

  private def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var j = 0
    while (j < a.length) { val d = a(j) - b(j); acc += d * d; j += 1 }
    acc
  }

  /** Index of the centroid nearest to `p`; ties go to the lowest index. */
  def nearest(p: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val d = sqDist(p, cents(c))
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  private val MaxIters = 20

  /** Fit `k` centroids to `points` (finite, all of one dimension). */
  def fit(points: Array[Array[Double]], k: Int, seed: Long): Array[Array[Double]] = {
    require(k > 0, s"k must be positive, got $k")
    require(points.nonEmpty, "cannot fit k-means on no points")
    val dim = points(0).length
    require(points.forall(_.length == dim), "points must share one dimension")
    require(points.forall(_.forall(java.lang.Double.isFinite)),
      "k-means points must be finite (no NaN, infinite or null coordinate)")
    val n = points.length
    val rng = new java.util.Random(seed)
    // k-means++: each next centroid is a point drawn with probability
    // proportional to its squared distance from the nearest chosen one
    val cents = new Array[Array[Double]](k)
    cents(0) = points(rng.nextInt(n)).clone()
    val d2 = points.map(sqDist(_, cents(0)))
    for (c <- 1 until k) {
      var r = rng.nextDouble() * d2.sum
      var i = 0
      while (i < n - 1 && r >= d2(i)) { r -= d2(i); i += 1 }
      cents(c) = points(i).clone()
      for (p <- 0 until n) d2(p) = math.min(d2(p), sqDist(points(p), cents(c)))
    }
    // Lloyd: assign, then move each non-empty cluster to its mean
    val assign = Array.fill(n)(-1)
    var it = 0
    var changed = true
    while (it < MaxIters && changed) {
      changed = false
      val sums = Array.ofDim[Double](k, dim)
      val counts = new Array[Int](k)
      for (p <- 0 until n) {
        val c = nearest(points(p), cents)
        if (c != assign(p)) { assign(p) = c; changed = true }
        counts(c) += 1
        var j = 0
        while (j < dim) { sums(c)(j) += points(p)(j); j += 1 }
      }
      for (c <- 0 until k if counts(c) > 0) cents(c) = sums(c).map(_ / counts(c))
      it += 1
    }
    cents
  }
}
