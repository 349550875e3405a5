package graft.damds

import graft.mm.FixedPoint

/** Pure array kernels for DA-MDS (deterministic-annealing SMACOF), each
  * mirroring a reference kernel bit-for-bit in loop order (citations are
  * file:line into /root/reference):
  *  - stats A6: damds/Statistics.java:30-47
  *  - floor repair N8: damds/Distances.java:162-171
  *  - stress N4/A7: damds/Stress.java:55-93
  *  - BofZ + BC N3: damds/BC.java:86-134, :72-84
  *  - VArray A8: damds/VArray.java:49-67
  *  - weighted-Laplacian multiply N2: the spidal
  *    matrixMultiplyWithThreadOffset contract invoked at
  *    damds/CG.java:411-421 — out = V·x over the block's rows where
  *    V_ii = vArray[i] (= 1 + Σ_{j≠i} w_ij) and V_ij = −w_ij
  *  - euclidean N5: damds/DAMDSUtils.java:11-26
  *
  * Weight semantics (SURVEY §7.4 risk 6): an empty weight array means
  * constant weight 1.0 (the reference's WeightsWrap1D(data, null, ...)
  * null-fallback); otherwise per-cell fixed-point shorts.
  */
object DamdsKernels {

  import FixedPoint.InvShortMax

  /** Block of the N×N fixed-point distance matrix plus its weights.
    * Weight semantics mirror the reference's RowBlock.getWeight
    * (io/RowBlock.java:124-142), in precedence order:
    *  - `rowWeight` non-empty → per-point simple weights w_i·w_j
    *    (full-N vector, same in every block);
    *  - `weight` non-empty → per-cell fixed-point matrix;
    *  - both empty → constant 1.0;
    * and when `sammonFactor > 0`, the base weight is divided by
    * max(d_ij, sammonFactor·avgDist) (N11; reference default factor
    * 0.001, RowBlock.java:107-113,139-142).
    */
  final case class DamdsBlock(
      index: Int,
      start: Int,
      blockRows: Int,
      n: Int,
      dist: Array[Short],
      weight: Array[Short],
      rowWeight: Array[Double] = Array.empty,
      sammonFactor: Double = 0.0,
      avgDist: Double = 0.0) {
    def w(localRow: Int, globalCol: Int): Double = {
      val base =
        if (rowWeight.nonEmpty) rowWeight(start + localRow) * rowWeight(globalCol)
        else if (weight.length == 0) 1.0
        else weight(localRow * n + globalCol) * InvShortMax
      if (sammonFactor > 0.0)
        base / math.max(dist(localRow * n + globalCol) * InvShortMax,
          sammonFactor * avgDist)
      else base
    }
  }

  /** Combinable DoubleStatistics (A6). */
  final case class DStats(count: Long, vmin: Double, vmax: Double,
      positiveMin: Double, sum: Double, sumSq: Double) {
    def combine(o: DStats): DStats = DStats(
      count + o.count, math.min(vmin, o.vmin), math.max(vmax, o.vmax),
      math.min(positiveMin, o.positiveMin), sum + o.sum, sumSq + o.sumSq)
  }
  object DStats {
    val empty: DStats = DStats(0L, Double.MaxValue, Double.MinValue,
      Double.MaxValue, 0.0, 0.0)
  }

  /** N5: distance between rows i and j of the flat N×d embedding. */
  def euclidean(x: Array[Double], i: Int, j: Int, d: Int): Double = {
    var t = 0.0
    val io = d * i
    val jo = d * j
    var k = 0
    while (k < d) {
      val e = x(io + k) - x(jo + k)
      t += e * e
      k += 1
    }
    math.sqrt(t)
  }

  /** A6: stats over all non-negative decoded entries of a block. */
  def stats(dist: Array[Short]): DStats = {
    var st = DStats.empty
    var i = 0
    var count = 0L
    var mn = Double.MaxValue; var mx = Double.MinValue
    var pmin = Double.MaxValue; var sum = 0.0; var sumSq = 0.0
    while (i < dist.length) {
      val d = dist(i) * InvShortMax
      if (d >= 0) {
        count += 1
        if (d < mn) mn = d
        if (d > mx) mx = d
        if (d > 0 && d < pmin) pmin = d
        sum += d
        sumSq += d * d
      }
      i += 1
    }
    st = DStats(count, mn, mx, pmin, sum, sumSq)
    st
  }

  /** N8: entries in [0, positiveMin) replaced by positiveMin (returns a
    * new array; the reference mutates in place). */
  def floorRepair(dist: Array[Short], positiveMin: Double): Array[Short] = {
    val out = dist.clone()
    var i = 0
    while (i < out.length) {
      val d = out(i) * InvShortMax
      if (d >= 0.0 && d < positiveMin)
        out(i) = (positiveMin * Short.MaxValue).toShort
      i += 1
    }
    out
  }

  /** N9 heat diff: √(2d)·tCur above the cutoff, else 0. */
  def heatDiff(targetDim: Int, tCur: Double): Double =
    if (tCur > 10e-10) math.sqrt(2.0 * targetDim) * tCur else 0.0

  /** N4/A7: block partial of the stress σ (caller multiplies the global
    * sum by invSumOfSquare). */
  def stressSigma(b: DamdsBlock, x: Array[Double], d: Int,
      tCur: Double): Double = {
    val diff = heatDiff(d, tCur)
    var sigma = 0.0
    var localRow = 0
    while (localRow < b.blockRows) {
      val globalRow = localRow + b.start
      var gc = 0
      while (gc < b.n) {
        val origD = b.dist(localRow * b.n + gc) * InvShortMax
        if (origD >= 0) {
          val weight = b.w(localRow, gc)
          val euc =
            if (globalRow != gc) euclidean(x, globalRow, gc, d) else 0.0
          val heatD = origD - diff
          val tmpD = if (origD >= diff) heatD - euc else -euc
          sigma += weight * tmpD * tmpD
        }
        gc += 1
      }
      localRow += 1
    }
    sigma
  }

  /** A8: v[i] = 1 + Σ_{j≠i, δ≥0, w≠0} w_ij over the block's rows. */
  def vArray(b: DamdsBlock): Array[Double] = {
    val v = new Array[Double](b.blockRows)
    var i = 0
    while (i < b.blockRows) {
      val globalRow = i + b.start
      var gc = 0
      while (gc < b.n) {
        if (globalRow != gc) {
          val origD = b.dist(i * b.n + gc) * InvShortMax
          val weight = b.w(i, gc)
          if (origD >= 0 && weight != 0) v(i) += weight
        }
        gc += 1
      }
      v(i) += 1
      i += 1
    }
    v
  }

  /** N3 fused: BC block = B(Z)·X over this block's rows, without
    * materializing B. B_ij = −w_ij(δ_ij − diff)/d_ij(X) when
    * d_ij ≥ 1e-10 ∧ diff < δ_ij else 0; B_ii = −Σ_{j≠i} B_ij.
    */
  def bcBlock(b: DamdsBlock, x: Array[Double], d: Int,
      tCur: Double): Array[Double] = {
    val diff = heatDiff(d, tCur)
    val out = new Array[Double](b.blockRows * d)
    // d == 3 register path (r20) — the mmBlock treatment: three scalar
    // accumulators replace per-flop `out` loads/stores; FP op order
    // per component is unchanged (ascending gc, diagonal last), so
    // bit-identical to the generic loop (DamdsKernelsSpec pins it).
    if (d == 3) {
      var localRow = 0
      while (localRow < b.blockRows) {
        val globalRow = localRow + b.start
        var diag = 0.0
        var s0 = 0.0; var s1 = 0.0; var s2 = 0.0
        var gc = 0
        while (gc < b.n) {
          if (gc != globalRow) {
            val origD = b.dist(localRow * b.n + gc) * InvShortMax
            val weight = b.w(localRow, gc)
            if (origD >= 0 && weight != 0) {
              val dist = euclidean(x, globalRow, gc, 3)
              val bij =
                if (dist >= 1.0e-10 && diff < origD)
                  weight * -1.0 * (origD - diff) / dist
                else 0.0
              if (bij != 0.0) {
                val xo = gc * 3
                s0 += bij * x(xo); s1 += bij * x(xo + 1); s2 += bij * x(xo + 2)
                diag -= bij
              }
            }
          }
          gc += 1
        }
        val xo = globalRow * 3
        s0 += diag * x(xo); s1 += diag * x(xo + 1); s2 += diag * x(xo + 2)
        val rowOff = localRow * 3
        out(rowOff) = s0; out(rowOff + 1) = s1; out(rowOff + 2) = s2
        localRow += 1
      }
      return out
    }
    var localRow = 0
    while (localRow < b.blockRows) {
      val globalRow = localRow + b.start
      var diag = 0.0
      val rowOff = localRow * d
      var gc = 0
      while (gc < b.n) {
        if (gc != globalRow) {
          val origD = b.dist(localRow * b.n + gc) * InvShortMax
          val weight = b.w(localRow, gc)
          if (origD >= 0 && weight != 0) {
            val dist = euclidean(x, globalRow, gc, d)
            val bij =
              if (dist >= 1.0e-10 && diff < origD)
                weight * -1.0 * (origD - diff) / dist
              else 0.0
            if (bij != 0.0) {
              var k = 0
              while (k < d) { out(rowOff + k) += bij * x(gc * d + k); k += 1 }
              diag -= bij
            }
          }
        }
        gc += 1
      }
      var k = 0
      while (k < d) { out(rowOff + k) += diag * x(globalRow * d + k); k += 1 }
      localRow += 1
    }
    out
  }

  /** N4+N3 fused (r21): one pass over the block computing BOTH the
    * stress σ partial and the BC = B(Z)·X rows. `stressSigma` and
    * `bcBlock` walk the identical (localRow asc, gc asc) cell order and
    * never read each other's accumulators, so interleaving them in one
    * loop preserves each accumulator's FP op sequence EXACTLY — the
    * returned pair is bit-identical to calling the two kernels
    * separately (pinned in DamdsSpec). What fusion saves is the second
    * traversal of the N×N fixed-point array (the dominant memory
    * stream at large N) and the second per-cell `euclidean` (a sqrt
    * per cell — stress and BC each needed one; the fused pass computes
    * it once and feeds both), plus one scheduler round trip per
    * (x, tCur) evaluation in the drivers that call it.
    */
  def stressBcBlock(b: DamdsBlock, x: Array[Double], d: Int,
      tCur: Double): (Double, Array[Double]) = {
    val diff = heatDiff(d, tCur)
    val out = new Array[Double](b.blockRows * d)
    var sigma = 0.0
    // d == 3 register path — same treatment as mmBlock/bcBlock (r20):
    // per-row accumulators live in registers; op order per accumulator
    // is unchanged (ascending gc, bc diagonal term last).
    if (d == 3) {
      var localRow = 0
      while (localRow < b.blockRows) {
        val globalRow = localRow + b.start
        var diag = 0.0
        var s0 = 0.0; var s1 = 0.0; var s2 = 0.0
        var gc = 0
        while (gc < b.n) {
          val origD = b.dist(localRow * b.n + gc) * InvShortMax
          if (origD >= 0) {
            val weight = b.w(localRow, gc)
            val euc =
              if (globalRow != gc) euclidean(x, globalRow, gc, 3) else 0.0
            // stress accumulation — stressSigma's body verbatim
            val heatD = origD - diff
            val tmpD = if (origD >= diff) heatD - euc else -euc
            sigma += weight * tmpD * tmpD
            // bc accumulation — bcBlock's body verbatim (off-diagonal
            // only; `euc` is the same value bcBlock recomputed)
            if (gc != globalRow && weight != 0) {
              val bij =
                if (euc >= 1.0e-10 && diff < origD)
                  weight * -1.0 * (origD - diff) / euc
                else 0.0
              if (bij != 0.0) {
                val xo = gc * 3
                s0 += bij * x(xo); s1 += bij * x(xo + 1); s2 += bij * x(xo + 2)
                diag -= bij
              }
            }
          }
          gc += 1
        }
        val xo = globalRow * 3
        s0 += diag * x(xo); s1 += diag * x(xo + 1); s2 += diag * x(xo + 2)
        val rowOff = localRow * 3
        out(rowOff) = s0; out(rowOff + 1) = s1; out(rowOff + 2) = s2
        localRow += 1
      }
      return (sigma, out)
    }
    var localRow = 0
    while (localRow < b.blockRows) {
      val globalRow = localRow + b.start
      var diag = 0.0
      val rowOff = localRow * d
      var gc = 0
      while (gc < b.n) {
        val origD = b.dist(localRow * b.n + gc) * InvShortMax
        if (origD >= 0) {
          val weight = b.w(localRow, gc)
          val euc =
            if (globalRow != gc) euclidean(x, globalRow, gc, d) else 0.0
          val heatD = origD - diff
          val tmpD = if (origD >= diff) heatD - euc else -euc
          sigma += weight * tmpD * tmpD
          if (gc != globalRow && weight != 0) {
            val bij =
              if (euc >= 1.0e-10 && diff < origD)
                weight * -1.0 * (origD - diff) / euc
              else 0.0
            if (bij != 0.0) {
              var k = 0
              while (k < d) { out(rowOff + k) += bij * x(gc * d + k); k += 1 }
              diag -= bij
            }
          }
        }
        gc += 1
      }
      var k = 0
      while (k < d) { out(rowOff + k) += diag * x(globalRow * d + k); k += 1 }
      localRow += 1
    }
    (sigma, out)
  }

  /** r22 deeper fusion (VERDICT r21 next 6): ONE pass over the block
    * computing the post-stress σ at `tCur` AND the NEXT evaluation
    * point's (σ, BC) at `tNext` — the three per-cell accumulations
    * share the one expensive `euclidean` (a sqrt per cell) and the one
    * N×N fixed-point traversal. In the annealed loop every post-stress
    * pass at (x, tCur) is immediately followed by a (σ, BC) pass at
    * (x, tNext) over the SAME x (tNext = tCur when the stress loop
    * continues — then σ(tNext) duplicates σ(tCur) for free — or the
    * cooled temperature when it advances), so fusing them halves the
    * non-CG N×N passes per temperature step. Each accumulator runs
    * stressSigma's / bcBlock's exact body in the same (localRow asc,
    * gc asc) order and none reads another's state, so all three
    * results are BIT-identical to the separate kernels (pinned in
    * DamdsSpec). Speculation is exact — the drivers only call this on
    * fixed-count schedules (maxStressLoops > 0), where the next
    * evaluation point is known before the pass runs.
    */
  def stressStressBcBlock(b: DamdsBlock, x: Array[Double], d: Int,
      tCur: Double, tNext: Double): (Double, Double, Array[Double]) = {
    val diffC = heatDiff(d, tCur)
    val diffN = heatDiff(d, tNext)
    val out = new Array[Double](b.blockRows * d)
    var sigC = 0.0
    var sigN = 0.0
    // d == 3 register path — same treatment as stressBcBlock (r21)
    if (d == 3) {
      var localRow = 0
      while (localRow < b.blockRows) {
        val globalRow = localRow + b.start
        var diag = 0.0
        var s0 = 0.0; var s1 = 0.0; var s2 = 0.0
        var gc = 0
        while (gc < b.n) {
          val origD = b.dist(localRow * b.n + gc) * InvShortMax
          if (origD >= 0) {
            val weight = b.w(localRow, gc)
            val euc =
              if (globalRow != gc) euclidean(x, globalRow, gc, 3) else 0.0
            // σ(tCur) — stressSigma's body verbatim
            val heatC = origD - diffC
            val tmpC = if (origD >= diffC) heatC - euc else -euc
            sigC += weight * tmpC * tmpC
            // σ(tNext) — stressSigma's body verbatim
            val heatN = origD - diffN
            val tmpN = if (origD >= diffN) heatN - euc else -euc
            sigN += weight * tmpN * tmpN
            // BC(tNext) — bcBlock's body verbatim
            if (gc != globalRow && weight != 0) {
              val bij =
                if (euc >= 1.0e-10 && diffN < origD)
                  weight * -1.0 * (origD - diffN) / euc
                else 0.0
              if (bij != 0.0) {
                val xo = gc * 3
                s0 += bij * x(xo); s1 += bij * x(xo + 1); s2 += bij * x(xo + 2)
                diag -= bij
              }
            }
          }
          gc += 1
        }
        val xo = globalRow * 3
        s0 += diag * x(xo); s1 += diag * x(xo + 1); s2 += diag * x(xo + 2)
        val rowOff = localRow * 3
        out(rowOff) = s0; out(rowOff + 1) = s1; out(rowOff + 2) = s2
        localRow += 1
      }
      return (sigC, sigN, out)
    }
    var localRow = 0
    while (localRow < b.blockRows) {
      val globalRow = localRow + b.start
      var diag = 0.0
      val rowOff = localRow * d
      var gc = 0
      while (gc < b.n) {
        val origD = b.dist(localRow * b.n + gc) * InvShortMax
        if (origD >= 0) {
          val weight = b.w(localRow, gc)
          val euc =
            if (globalRow != gc) euclidean(x, globalRow, gc, d) else 0.0
          val heatC = origD - diffC
          val tmpC = if (origD >= diffC) heatC - euc else -euc
          sigC += weight * tmpC * tmpC
          val heatN = origD - diffN
          val tmpN = if (origD >= diffN) heatN - euc else -euc
          sigN += weight * tmpN * tmpN
          if (gc != globalRow && weight != 0) {
            val bij =
              if (euc >= 1.0e-10 && diffN < origD)
                weight * -1.0 * (origD - diffN) / euc
              else 0.0
            if (bij != 0.0) {
              var k = 0
              while (k < d) { out(rowOff + k) += bij * x(gc * d + k); k += 1 }
              diag -= bij
            }
          }
        }
        gc += 1
      }
      var k = 0
      while (k < d) { out(rowOff + k) += diag * x(globalRow * d + k); k += 1 }
      localRow += 1
    }
    (sigC, sigN, out)
  }

  /** Weight-only view of a block for the CG/V·x path: the distance
    * array is NOT needed there (except under Sammon weighting, which
    * divides by the cell distance — `DamdsBlock.weightView` retains
    * dist only in that mode), so caching the full block would store
    * the dominant N×N operand twice.
    */
  final case class WeightBlock(
      index: Int, start: Int, blockRows: Int, n: Int,
      weight: Array[Short],
      rowWeight: Array[Double] = Array.empty,
      dist: Array[Short] = Array.empty,
      sammonFactor: Double = 0.0,
      avgDist: Double = 0.0) {
    def w(localRow: Int, globalCol: Int): Double = {
      val base =
        if (rowWeight.nonEmpty) rowWeight(start + localRow) * rowWeight(globalCol)
        else if (weight.length == 0) 1.0
        else weight(localRow * n + globalCol) * InvShortMax
      if (sammonFactor > 0.0)
        base / math.max(dist(localRow * n + globalCol) * InvShortMax,
          sammonFactor * avgDist)
      else base
    }
  }

  /** Weight view of a full block (dist retained only under Sammon). */
  def weightView(b: DamdsBlock): WeightBlock =
    WeightBlock(b.index, b.start, b.blockRows, b.n, b.weight, b.rowWeight,
      if (b.sammonFactor > 0.0) b.dist else Array.empty,
      b.sammonFactor, b.avgDist)

  /** N2: out = V·x over the block's rows, V_ii = v(i), V_ij = −w_ij. */
  def mmBlock(b: WeightBlock, v: Array[Double], x: Array[Double],
      d: Int): Array[Double] = {
    val out = new Array[Double](b.blockRows * d)
    // d == 3 register path (r20): the generic loop accumulates through
    // `out` array stores — a load+store per flop — where three scalar
    // accumulators stay in registers across the N-long gc sweep. The
    // FP op sequence per component is UNCHANGED (ascending gc, the
    // diagonal v·x term last), so results are bit-identical to the
    // generic path — pinned in DamdsKernelsSpec ("mmBlock d=3 register
    // path ≡ generic path") and transitively by every golden-gated
    // n-query. targetDim is 3 in every probe and main; other d falls
    // through to the generic loop below.
    if (d == 3) {
      var localRow = 0
      while (localRow < b.blockRows) {
        val globalRow = localRow + b.start
        var s0 = 0.0; var s1 = 0.0; var s2 = 0.0
        var gc = 0
        while (gc < b.n) {
          if (gc != globalRow) {
            val weight = b.w(localRow, gc)
            if (weight != 0) {
              val xo = gc * 3
              s0 -= weight * x(xo)
              s1 -= weight * x(xo + 1)
              s2 -= weight * x(xo + 2)
            }
          }
          gc += 1
        }
        val xo = globalRow * 3
        val vr = v(localRow)
        s0 += vr * x(xo); s1 += vr * x(xo + 1); s2 += vr * x(xo + 2)
        val rowOff = localRow * 3
        out(rowOff) = s0; out(rowOff + 1) = s1; out(rowOff + 2) = s2
        localRow += 1
      }
      return out
    }
    var localRow = 0
    while (localRow < b.blockRows) {
      val globalRow = localRow + b.start
      val rowOff = localRow * d
      var gc = 0
      while (gc < b.n) {
        if (gc != globalRow) {
          val weight = b.w(localRow, gc)
          if (weight != 0) {
            var k = 0
            while (k < d) {
              out(rowOff + k) -= weight * x(gc * d + k)
              k += 1
            }
          }
        }
        gc += 1
      }
      var k = 0
      while (k < d) {
        out(rowOff + k) += v(localRow) * x(globalRow * d + k)
        k += 1
      }
      localRow += 1
    }
    out
  }

  /** A9: Σ aᵢ² and Σ aᵢbᵢ (damds/CG.java:231-241, :175-183). */
  def selfDot(a: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * a(i); i += 1 }
    s
  }
  def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }
}
