package graft.ml

import org.apache.spark.sql.catalyst.util.ArrayData

/** Exact nearest-centroid search under squared L2 — the one argmin
  * behind every K-Means assignment (`KMeans.stepBlock`, `fitLocal`,
  * `weightedFitLocal`, the `NearestCentroidExpr` column) and the IVF
  * coarse-cell lookup. Build it once per centroid set, then call
  * `nearest` per point.
  *
  * Result contract (the brute scan it replaces): the cid minimizing
  * (dist2, cid) lexicographically among centroids whose dist2 is below
  * the caller's start value `bound`, where dist2 is the index-order
  * left fold `0.0 + t₀² + t₁² + …` with `tⱼ = v(j) − c(j)`; cid 0 when
  * none is below it (a NaN or infinite point, or all distances NaN).
  * The search below returns exactly that cid, not an approximation.
  *
  * How it prunes: the centroids are sorted on one coordinate (the
  * `axis` of widest finite spread). A point starts at its binary-search
  * position on that axis and scans outward, up and then down; a
  * direction stops once its axis term `t*t > bestD`, and a distance sum
  * stops early once its partial sum is `> bestD`. Where pruning cannot
  * pay (small k, or large d: see `prunes`), `nearest` is the plain scan
  * in cid order instead; the choice depends on k and d only.
  *
  * Why that is exact: every IEEE partial sum of non-negative squares is
  * ≥ each term it has added (round-to-nearest is monotone and the
  * exact sum only grows), so one coordinate's `t*t` — the same rounded
  * value the fold adds — bounds the whole fold from below. Along a scan
  * direction the axis gap `x − c` is monotone (rounding is monotone),
  * so once `t*t > bestD` no later centroid in that direction can reach
  * bestD, let alone tie it. Both stops use strict `>`, so every
  * centroid that could tie is evaluated, and ties resolve to the lowest
  * cid. A centroid with a NaN coordinate always folds to NaN, which
  * never compares below bestD, so it is left out of the search; a point
  * whose axis coordinate is NaN or ±∞ folds to NaN or +∞ against every
  * centroid, so it maps to cid 0 without a scan.
  */
final class NearestCentroid private (
    val k: Int,
    val d: Int,
    rows: Array[Double],
    axis: Int,
    keys: Array[Double],
    ids: Array[Int],
    sorted: Array[Double]) extends Serializable {

  private val live = keys.length

  /** Whether the pruned search beats a full scan, from k and d alone: a
    * one-axis window holds about k·k^(-1/d) of k centroids, so pruning
    * saves little until k passes ~4^d, and below ~64 centroids the
    * binary search and branchy scan cost more than the full scan's
    * short loop (Lloyd steps on uniform points, d ∈ {1, 2, 3, 4, 8, 64}).
    */
  private[ml] val prunes = d < 16 && k > math.max(64, 1 << (2 * d))

  /** Copies `a` into `v`, failing with a typed error when its length is
    * not the centroids' dimension (the unboxed read checks no bounds). */
  def load(a: ArrayData, v: Array[Double]): Unit = {
    if (a == null)
      throw new IllegalArgumentException("nearest centroid of a null point")
    if (a.numElements() != d)
      throw new IllegalArgumentException(
        s"point has ${a.numElements()} coordinates, centroids have $d")
    var j = 0
    while (j < d) { v(j) = a.getDouble(j); j += 1 }
  }

  /** `dist2` of `v` to centroid `cid`: the index-order left fold. */
  private def dist2(v: Array[Double], cid: Int): Double = {
    var dist = 0.0
    var j = 0
    val off = cid * d
    while (j < d) { val t = v(j) - rows(off + j); dist += t * t; j += 1 }
    dist
  }

  /** The nearest centroid's cid under the contract above. When `out` is
    * given, `out(0)` receives that centroid's dist2, or `bound` when
    * none is below it. */
  def nearest(v: Array[Double], bound: Double = Double.MaxValue,
      out: Array[Double] = null): Int = {
    if (v.length != d)
      throw new IllegalArgumentException(
        s"point has ${v.length} coordinates, centroids have $d")
    if (!prunes) return scan(v, bound, out)
    val x = v(axis)
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) {
      if (out != null) out(0) = bound
      return 0
    }
    // first slot whose axis key is >= x: keys below go down, the rest up
    var lo = 0
    var hi = live
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (keys(mid) < x) lo = mid + 1 else hi = mid
    }
    pruned(lo, x, v, bound, out)
  }

  /** The full scan in cid order; strict < keeps the lowest cid on ties. */
  private def scan(v: Array[Double], bound: Double, out: Array[Double]): Int = {
    var best = 0
    var bestD = bound
    var c = 0
    while (c < k) {
      val dist = dist2(v, c)
      if (dist < bestD) { bestD = dist; best = c }
      c += 1
    }
    if (out != null) out(0) = bestD
    best
  }

  /** The outward scan from slot `lo`: the axis term bounds the fold, and
    * a fold stops once its partial sum is past bestD (then it cannot win
    * or tie, and the winner's fold always runs to the end). */
  private def pruned(lo: Int, x: Double, v: Array[Double], bound: Double,
      out: Array[Double]): Int = {
    var best = 0
    var bestD = bound
    var step = 1
    while (step >= -1) {
      var s = if (step > 0) lo else lo - 1
      while (s >= 0 && s < live) {
        val t = x - keys(s)
        if (t * t > bestD) s = -1
        else {
          val off = s * d
          var dist = 0.0
          var j = 0
          while (j < d && !(dist > bestD)) {
            val u = v(j) - sorted(off + j); dist += u * u; j += 1
          }
          val c = ids(s)
          if (dist < bestD || (dist == bestD && c < best)) { bestD = dist; best = c }
          s += step
        }
      }
      step -= 2
    }
    if (out != null) out(0) = bestD
    best
  }

  override def toString: String = s"NearestCentroid(k=$k, d=$d)"
}

object NearestCentroid {

  /** Checks a centroid set's shape and returns its dimension: typed
    * errors for an empty set and for ragged rows. */
  def dims(centroids: Array[Array[Double]]): Int = {
    if (centroids.isEmpty)
      throw new IllegalArgumentException("nearest centroid over an empty centroid set")
    val d = centroids(0).length
    if (d == 0)
      throw new IllegalArgumentException("nearest centroid over 0-dimensional centroids")
    val ragged = centroids.indexWhere(_.length != d)
    if (ragged >= 0)
      throw new IllegalArgumentException(
        s"ragged centroid set: centroid 0 has $d coordinates, " +
          s"centroid $ragged has ${centroids(ragged).length}")
    d
  }

  def apply(centroids: Array[Array[Double]]): NearestCentroid = {
    val d = dims(centroids)
    val k = centroids.length
    val rows = centroids.flatten
    // NaN-free centroids only: a NaN coordinate folds every distance to NaN
    val liveIds = (0 until k).filter(c => !centroids(c).exists(_.isNaN))
    val axis = (0 until d).maxBy { j =>
      val xs = liveIds.map(centroids(_)(j)).filter(x => !x.isInfinite)
      if (xs.isEmpty) 0.0 else xs.max - xs.min
    }
    val ids = liveIds.sortBy(c => (centroids(c)(axis), c))(
      Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int)).toArray
    val keys = ids.map(centroids(_)(axis))
    val sorted = ids.flatMap(centroids(_))
    new NearestCentroid(k, d, rows, axis, keys, ids, sorted)
  }
}
