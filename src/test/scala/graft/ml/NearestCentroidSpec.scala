package graft.ml

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Differential test of the pruned search against the full scan it
  * replaced, on random and adversarial inputs, plus the Lloyd steps that
  * call it pinned bit-identical to their former loops. */
class NearestCentroidSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The brute scan: every centroid in cid order, strict-< update from
    * `bound`, best starting at 0. Returns (cid, dist2). */
  private def brute(v: Array[Double], cs: Array[Array[Double]],
      bound: Double): (Int, Double) = {
    var best = 0; var bestD = bound
    var c = 0
    while (c < cs.length) {
      var dist = 0.0; var j = 0
      while (j < v.length) { val t = v(j) - cs(c)(j); dist += t * t; j += 1 }
      if (dist < bestD) { bestD = dist; best = c }
      c += 1
    }
    (best, bestD)
  }

  private def bits(x: Double) = java.lang.Double.doubleToLongBits(x)

  /** Asserts cid and dist2 equal the brute scan's from both start values
    * the callers use, on every point. */
  private def agree(pts: Array[Array[Double]], cs: Array[Array[Double]], what: String): Unit = {
    val nc = NearestCentroid(cs)
    val out = new Array[Double](1)
    pts.foreach { v =>
      Seq(Double.MaxValue, Double.PositiveInfinity).foreach { bound =>
        val (wc, wd) = brute(v, cs, bound)
        val got = nc.nearest(v, bound)
        assert(got == wc, s"$what: cid for ${v.toSeq} from $bound")
        assert(nc.nearest(v, bound, out) == wc && bits(out(0)) == bits(wd),
          s"$what: dist2 for ${v.toSeq} from $bound: ${out(0)} vs $wd")
        if (bound.isInfinite) {
          val row = graft.functions.VecKernels.nearest(
            new org.apache.spark.sql.catalyst.util.GenericArrayData(v.toArray[Any]), nc)
          assert(row.getInt(1) == wc && bits(row.getDouble(0)) == bits(wd),
            s"$what: (dist2, cid) for ${v.toSeq}: ${row.getDouble(0)} vs $wd")
        }
      }
    }
  }

  private val dims = Seq(1, 2, 3, 8, 64)

  test("the search prunes only where k is large for d") {
    def prunes(k: Int, d: Int) = NearestCentroid(Array.fill(k, d)(0.0)).prunes
    assert(prunes(400, 1) && prunes(400, 2) && prunes(400, 3) && prunes(65537, 8))
    assert(!prunes(64, 2) && !prunes(256, 4) && !prunes(16, 8) && !prunes(2000, 64))
  }

  test("random inputs: same cid and dist2 as the full scan") {
    val rnd = new scala.util.Random(11)
    for (d <- dims; k <- Seq(1, 2, 7, 60, 400)) {
      val cs = Array.fill(k, d)(rnd.nextGaussian())
      val pts = Array.fill(300, d)(rnd.nextGaussian() * 1.5)
      agree(pts, cs, s"gaussian d=$d k=$k")
      // clustered centroids, far and near points
      val tight = Array.fill(k, d)(rnd.nextDouble() * 1e-3)
      agree(pts ++ Array.fill(20, d)(rnd.nextDouble() * 1e-3), tight, s"tight d=$d k=$k")
    }
    // the pruned generic path at d = 8 needs k past 4^8
    agree(Array.fill(40, 8)(rnd.nextGaussian()), Array.fill(65537, 8)(rnd.nextGaussian()),
      "gaussian d=8 k=65537")
  }

  test("duplicate centroids and exact ties: the lowest cid wins") {
    val rnd = new scala.util.Random(12)
    for (d <- dims; k <- Seq(1, 2, 9, 100)) {
      // small integer grid: many centroids equidistant from a point
      val base = Array.fill(k, d)(rnd.nextInt(3).toDouble - 1.0)
      val cs = base ++ base.reverse ++ base
      val pts = Array.fill(200, d)(rnd.nextInt(5) * 0.5 - 1.0)
      agree(pts, cs, s"grid d=$d k=$k")
      val same = Array.fill(k)(Array.fill(d)(0.25))
      agree(pts, same, s"all-equal d=$d k=$k")
    }
    val nc = NearestCentroid(Array(Array(1.0, 0.0), Array(-1.0, 0.0), Array(0.0, 1.0)))
    assert(nc.nearest(Array(0.0, 0.0)) == 0)
  }

  test("NaN, infinities, -0.0 and overflow in points and centroids") {
    val special = Array(0.0, -0.0, 1.0, -1.0, 0.5, Double.NaN,
      Double.PositiveInfinity, Double.NegativeInfinity, 1e300, -1e300,
      Double.MaxValue, Double.MinPositiveValue)
    val rnd = new scala.util.Random(13)
    def draw(pSpecial: Double) =
      if (rnd.nextDouble() < pSpecial) special(rnd.nextInt(special.length))
      else rnd.nextGaussian()
    for (d <- dims; k <- Seq(1, 3, 40, 300); p <- Seq(0.05, 0.3, 0.9)) {
      val cs = Array.fill(k, d)(draw(p))
      val pts = Array.fill(150, d)(draw(p))
      agree(pts, cs, s"special d=$d k=$k p=$p")
    }
    // every centroid NaN-poisoned, and a point whose every distance is +Inf
    agree(Array(Array(0.0, 0.0), Array(Double.NaN, 1.0)),
      Array(Array(Double.NaN, 0.0), Array(1.0, Double.NaN)), "all-NaN centroids")
    agree(Array(Array(1e300, -1e300), Array(Double.PositiveInfinity, 0.0)),
      Array(Array(-1e300, 1e300), Array(0.0, Double.NegativeInfinity)), "overflow")
    agree(Array(Array(-0.0), Array(0.0)), Array(Array(0.0), Array(-0.0)), "signed zeros")
  }

  test("typed errors: empty and ragged centroid sets, wrong point length") {
    val empty = intercept[IllegalArgumentException](NearestCentroid(Array.empty[Array[Double]]))
    assert(empty.getMessage.contains("empty centroid set"))
    val ragged = intercept[IllegalArgumentException](
      NearestCentroid(Array(Array(1.0, 2.0), Array(3.0, 4.0), Array(5.0))))
    assert(ragged.getMessage.contains("centroid 2 has 1"), ragged.getMessage)
    val nc = NearestCentroid(Array(Array(1.0, 2.0)))
    val len = intercept[IllegalArgumentException](nc.nearest(Array(1.0, 2.0, 3.0)))
    assert(len.getMessage.contains("point has 3 coordinates, centroids have 2"))
    intercept[IllegalArgumentException](KMeans.fitLocal(Array(Array(1.0)), Array.empty, 3))
    intercept[IllegalArgumentException](
      KMeans.fitLocal(Array(Array(1.0)), Array(Array(1.0, 2.0)), 3))
    intercept[IllegalArgumentException](
      KMeans.weightedFitLocal(Array(Array(1.0)), Array(1.0), 0, 3))
    intercept[IllegalArgumentException](
      graft.functions.GraftFunctions.nearestCentroid(lit(1), Array.empty))
  }

  /** The cause chain of a failed job, outermost first. */
  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  test("stepBlock and the column fail typed on a point of the wrong length") {
    import spark.implicits._
    val df = Seq(Seq(0.0, 1.0), Seq(1.0, 2.0, 3.0)).toDF("v")
    val cs = Array(Array(0.0, 0.0), Array(1.0, 1.0))
    intercept[IllegalArgumentException](KMeans.stepBlock(df, Array.empty))
    intercept[IllegalArgumentException](
      KMeans.stepBlock(df, Array(Array(0.0, 0.0), Array(1.0))))
    for (run <- Seq[() => Any](() => KMeans.stepBlock(df, cs),
        () => df.select(KMeans.assign($"v", cs)).collect())) {
      val e = intercept[Exception](run())
      assert(causes(e).exists(c => c.isInstanceOf[IllegalArgumentException] &&
        c.getMessage.contains("point has 3 coordinates, centroids have 2")), e)
    }
  }

  test("stepBlock fails typed on a v column that is not array<double>") {
    import spark.implicits._
    val cs = Array(Array(0.0, 0.0), Array(1.0, 1.0))
    for (df <- Seq(Seq(Seq(0.5f, 1.5f)).toDF("v"), Seq(Seq(1, 2)).toDF("v"),
        Seq(Seq(1L, 2L)).toDF("v"))) {
      val e = intercept[IllegalArgumentException](KMeans.stepBlock(df, cs))
      assert(e.getMessage.contains("needs v: array<double>"), e)
    }
  }

  // ---- the Lloyd loops as they were before the shared search ----

  private def oldFitLocal(pts: Array[Array[Double]], init: Array[Array[Double]],
      maxIter: Int): Array[Array[Double]] = {
    val k = init.length
    val d = init.head.length
    var cur = init.map(_.clone())
    var iters = 0
    while (iters < maxIter) {
      val sums = Array.ofDim[Double](k, d)
      val counts = new Array[Long](k)
      pts.foreach { v =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var dist = 0.0; var j = 0
          while (j < d) { val t = v(j) - cur(c)(j); dist += t * t; j += 1 }
          if (dist < bestD) { bestD = dist; best = c }
          c += 1
        }
        var j = 0
        while (j < d) { sums(best)(j) += v(j); j += 1 }
        counts(best) += 1
      }
      val next = cur.map(_.clone())
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          var j = 0
          while (j < d) { next(c)(j) = sums(c)(j) / counts(c); j += 1 }
        }
        c += 1
      }
      iters += 1
      cur = next
    }
    cur
  }

  private def oldWeightedFitLocal(pts: Array[Array[Double]], weights: Array[Double],
      k: Int, maxIter: Int): Array[Array[Double]] = {
    val d = pts.head.length
    val seed = pts.indices.sortBy(i => (-weights(i), i)).take(k)
    var cur = seed.map(pts(_).clone()).toArray
    var it = 0
    while (it < maxIter) {
      val sums = Array.ofDim[Double](k, d)
      val wsum = new Array[Double](k)
      var p = 0
      while (p < pts.length) {
        val v = pts(p)
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var dist = 0.0; var j = 0
          while (j < d) { val t = v(j) - cur(c)(j); dist += t * t; j += 1 }
          if (dist < bestD) { bestD = dist; best = c }
          c += 1
        }
        val w = weights(p)
        var j = 0
        while (j < d) { sums(best)(j) += w * v(j); j += 1 }
        wsum(best) += w
        p += 1
      }
      val next = cur.map(_.clone())
      var c = 0
      while (c < k) {
        if (wsum(c) > 0) {
          var j = 0
          while (j < d) { next(c)(j) = sums(c)(j) / wsum(c); j += 1 }
        }
        c += 1
      }
      cur = next
      it += 1
    }
    cur
  }

  private def same(a: Array[Array[Double]], b: Array[Array[Double]]): Boolean =
    a.length == b.length && a.indices.forall(i => java.util.Arrays.equals(a(i), b(i)))

  test("stepBlock, fitLocal and weightedFitLocal are bit-identical to the former loops") {
    import spark.implicits._
    val rnd = new scala.util.Random(14)
    // pruned at d = 2 and 3, full scan at d = 5
    for ((d, k) <- Seq((2, 200), (3, 150), (5, 12))) {
      val pts = Array.fill(3000, d)(rnd.nextGaussian())
      val init = pts.take(k).map(_.clone())
      // one partition: the block step then sums in the former loop's order
      val df = pts.map(_.toSeq).toSeq.toDF("v").coalesce(1)
      var cur = init
      for (_ <- 1 to 3) {
        val want = oldFitLocal(pts, cur, 1)
        val got = KMeans.stepBlock(df, cur)
        assert(same(got, want), s"stepBlock d=$d")
        cur = got
      }
      assert(same(KMeans.fitLocal(pts, init, maxIter = 4).centroids,
        oldFitLocal(pts, init, 4)), s"fitLocal d=$d")
      val w = Array.fill(pts.length)(rnd.nextInt(4).toDouble)
      assert(same(KMeans.weightedFitLocal(pts, w, k, 4),
        oldWeightedFitLocal(pts, w, k, 4)), s"weightedFitLocal d=$d")
    }
  }
}
