package perfbench

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.collectives.Collectives
import graft.damds.{Damds, DamdsKernels}
import graft.ml.KMeans
import graft.mm.{DoubleMatrixBlock, FixedPoint, Gemm, MatrixIO}

/** One operation of a workload: a timed call into the engine and an
  * untimed check of what it returned. */
trait Op {
  def name: String
  /** The engine module the op exercises. */
  def module: String
  def run(t: Tracer): AnyRef
  /** Either `"rows"`/`"digest"`, matched against the recorded
    * expectations, or `"ok"` with the evidence for the verdict. */
  def check(out: AnyRef): Map[String, Any]
}

/** A registered query, built through `SparkEntry.queries` and written to
  * the `noop` sink. */
final class QueryOp(spark: SparkSession, dir: String, val name: String,
    val module: String) extends Op {
  def run(t: Tracer): AnyRef = {
    val df = t.span("construct")(graft.SparkEntry.queries(name)(spark, dir))
    t.span("execute")(df.write.mode("overwrite").format("noop").save())
    df
  }
  def check(out: AnyRef): Map[String, Any] = {
    val d = Digest.of(out.asInstanceOf[DataFrame])
    Map("rows" -> d.rows, "digest" -> d.digest)
  }
}

object Workloads {
  /** One batch query or more of every batch module: the parquet
    * construction path (q01), the bucketed-table, session and disk-index
    * fronts (q30, v04, v11) and a native gram kernel (d12); then the
    * documented micro-batch fixed-cost floor s32. */
  val queries: Seq[String] = Seq(
    "q01", "q30", "q44", "d12", "v04", "v11", "x13", "m08", "s32")

  private def modules: Seq[(String, Seq[String])] = {
    import graft.operators._
    Seq("RelationalQueries" -> RelationalQueries.all,
      "EventQueries" -> EventQueries.all, "TextQueries" -> TextQueries.all,
      "VectorQueries" -> VectorQueries.all, "MlQueries" -> MlQueries.all,
      "MultimodalQueries" -> MultimodalQueries.all,
      "StreamingQueries" -> StreamingQueries.all)
      .map { case (m, qs) => m -> qs.map(_.name) }
  }

  /** Registered query ops for short ids such as `q01`. */
  def queryOps(spark: SparkSession, dir: String, ids: Seq[String]): Seq[Op] = {
    val mods = modules
    ids.map { id =>
      val hits = for ((m, names) <- mods; n <- names
        if n.startsWith(id + "_")) yield (m, n)
      require(hits.size == 1, s"query id $id matches ${hits.map(_._2)}")
      new QueryOp(spark, dir, hits.head._2, hits.head._1)
    }
  }
}

/** Deterministic inputs: every value is a pure function of (seed,
  * stream, index), so the driver can regenerate any element to check an
  * output without collecting the input. */
object Gen {
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def bits(seed: Long, stream: Long, i: Long): Long =
    mix(mix(seed * 0x632be59bd9b4e019L + stream) + i)
  /** Uniform in [0, 1). */
  def unit(seed: Long, stream: Long, i: Long): Double =
    (bits(seed, stream, i) >>> 11) * (1.0 / (1L << 53))
}

/** The `iterative` workload: the paper's own surface, on inputs made
  * from the seed. */
final class Iterative(spark: SparkSession, seed: Long, cores: Int) {
  import spark.implicits._

  /** Equal up to `tol` relative to the larger magnitude, or absolute
    * below magnitude 1. */
  private def close(a: Double, b: Double, tol: Double): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))
  private def relClose(a: Double, b: Double, tol: Double): Boolean =
    math.abs(a - b) <= tol * math.max(math.abs(a), math.abs(b))

  // ---- K-Means: BASELINE's 1M points, k = 1000, d = 2; 3 Lloyd steps
  val kmN = 1000000; val kmK = 1000; val kmIters = 3
  private def kmPoint(i: Long) = Array(Gen.unit(seed, 1, 2 * i), Gen.unit(seed, 1, 2 * i + 1))
  lazy val points: DataFrame = {
    val sd = seed
    spark.range(0, kmN, 1, cores).map { i =>
      Array(Gen.unit(sd, 1, 2 * i), Gen.unit(sd, 1, 2 * i + 1))
    }.toDF("v").persist(StorageLevel.MEMORY_AND_DISK)
  }
  private val kmInit = Array.tabulate(kmK)(c => kmPoint(c))

  /** One Lloyd step on the driver, the serial reference for the last
    * distributed step. Empty clusters keep their centroid, as in
    * `KMeans.stepBlock`. */
  private def serialStep(c: Array[Array[Double]]): Array[Array[Double]] = {
    val sums = Array.ofDim[Double](kmK, 2)
    val counts = new Array[Long](kmK)
    var i = 0L
    while (i < kmN) {
      val v0 = Gen.unit(seed, 1, 2 * i); val v1 = Gen.unit(seed, 1, 2 * i + 1)
      var best = 0; var bestD = Double.MaxValue; var k = 0
      while (k < kmK) {
        val t0 = v0 - c(k)(0); val t1 = v1 - c(k)(1)
        val d = t0 * t0 + t1 * t1
        if (d < bestD) { bestD = d; best = k }
        k += 1
      }
      sums(best)(0) += v0; sums(best)(1) += v1; counts(best) += 1
      i += 1
    }
    Array.tabulate(kmK)(k =>
      if (counts(k) == 0) c(k).clone() else sums(k).map(_ / counts(k)))
  }

  val kmeans: Op = new Op {
    val name = "kmeans"; val module = "ml.KMeans"
    def run(t: Tracer): AnyRef = {
      var prev = kmInit; var c = kmInit
      for (_ <- 1 to kmIters) {
        prev = c
        c = t.span("KMeans.stepBlock")(KMeans.stepBlock(points, c))
      }
      (prev, c)
    }
    def check(out: AnyRef): Map[String, Any] = {
      val (prev, c) = out.asInstanceOf[(Array[Array[Double]], Array[Array[Double]])]
      // the last distributed step against a serial replay of it
      val ref = serialStep(prev)
      val ok = c.length == kmK && c.indices.forall(k =>
        close(c(k)(0), ref(k)(0), 1e-9) && close(c(k)(1), ref(k)(1), 1e-9))
      Map("ok" -> ok, "checksum" -> c.map(_.sum).sum, "reference" -> ref.map(_.sum).sum)
    }
  }

  // ---- GEMM: 65536×256 by 256×128 through Gemm.multiply + assemble
  val gm = 65536; val gk = 256; val gn = 128; val gBlockRows = 1024
  private def aAt(i: Long, j: Int): Double =
    math.floor(Gen.unit(seed, 2, i * gk + j) * 1000) / 1000
  lazy val aBlocks: Dataset[DoubleMatrixBlock] = {
    val (sd, k, br, m) = (seed, gk, gBlockRows, gm)
    spark.range(0, m / br, 1, cores).map { b =>
      val data = new Array[Double](br * k)
      var x = 0
      while (x < data.length) {
        val i = b * br + x / k
        data(x) = math.floor(Gen.unit(sd, 2, i * k + x % k) * 1000) / 1000
        x += 1
      }
      DoubleMatrixBlock(b.toInt, (b * br).toInt, br, m, k, data)
    }(Encoders.product[DoubleMatrixBlock]).persist(StorageLevel.MEMORY_AND_DISK)
  }
  private val bRowMajor = Array.tabulate(gk * gn)(x => Gen.unit(seed, 3, x) - 0.5)
  private val bCol = Gemm.toColMajor(bRowMajor, gk, gn)
  /** sum(C) = sum over k of colsum(A)(k) * rowsum(B)(k). */
  private lazy val gemmChecksum: Double = {
    val colA = new Array[Double](gk)
    var i = 0L
    while (i < gm) { var j = 0; while (j < gk) { colA(j) += aAt(i, j); j += 1 }; i += 1 }
    (0 until gk).map(j => colA(j) * (0 until gn).map(c => bRowMajor(j * gn + c)).sum).sum
  }

  val gemm: Op = new Op {
    val name = "gemm"; val module = "mm.Gemm"
    def run(t: Tracer): AnyRef = {
      val cb = t.span("Gemm.multiply")(Gemm.multiply(spark, aBlocks, bCol, gn).collect())
      t.span("Gemm.assemble")(Gemm.assemble(cb.toSeq))
    }
    def check(out: AnyRef): Map[String, Any] = {
      val c = out.asInstanceOf[Array[Double]]
      val rnd = new java.util.Random(seed)
      val sample = Seq.fill(32)(rnd.nextInt(gm))
      val rowsOk = c.length == gm * gn && sample.forall { r =>
        val a = Array.tabulate(gk)(j => aAt(r.toLong, j))
        val want = Gemm.serialMultiply(a, 1, gk, bCol, gn)
        (0 until gn).forall(j => close(c(r * gn + j), want(j), 1e-12))
      }
      val sum = c.sum
      Map("ok" -> (rowsOk && close(sum, gemmChecksum, 1e-9)),
        "checksum" -> sum, "reference" -> gemmChecksum, "rows_sampled" -> sample.size)
    }
  }

  // ---- DA-MDS: n = 4096, 2 temperatures × 1 stress loop, cgIter 10
  val dn = 4096; val dDim = 3; val dSplits = 2 * cores
  // points in the unit cube of 8 dimensions
  private val dLatent = 8
  private val dPoints = Array.tabulate(dn * dLatent)(x => Gen.unit(seed, 4, x))
  lazy val damdsBlocks: Dataset[DamdsKernels.DamdsBlock] = {
    val (pts, n, latent) = (dPoints, dn, dLatent)
    val splits = MatrixIO.rowSplits(dn, dSplits).zipWithIndex
      .map { case ((start, rows), idx) => (idx, start, rows) }
    splits.toDS().repartition(splits.size).map { case (idx, start, rows) =>
      val dist = new Array[Short](rows * n)
      var i = 0
      while (i < rows) {
        var j = 0
        while (j < n) { dist(i * n + j) = DamdsReference.dist(pts, latent, start + i, j); j += 1 }
        i += 1
      }
      DamdsKernels.DamdsBlock(idx, start, rows, n, dist, Array.empty[Short])
    }(Encoders.product[DamdsKernels.DamdsBlock]).persist(StorageLevel.MEMORY_AND_DISK)
  }
  private val damdsInit = Array.tabulate(dn * dDim)(x => Gen.unit(seed, 6, x) - 0.5)
  private val damdsCfg = Damds.Config(targetDim = dDim, cgIter = 10,
    maxStressLoops = 1, maxTempLoops = 1)
  /** The serial solve both paths are checked against. */
  private lazy val damdsModel = new DamdsReference(dPoints, dLatent, dn, dDim)
  private lazy val damdsRef: DamdsReference.Solution =
    damdsModel.solve(damdsInit, temps = 2, cgIter = damdsCfg.cgIter,
      cgThreshold = damdsCfg.cgThreshold, alpha = damdsCfg.alpha,
      tMinFactor = damdsCfg.tMinFactor)

  private def damdsOp(opName: String, span: String, gatherCap: Long): Op = new Op {
    val name = opName; val module = "damds"
    def run(t: Tracer): AnyRef = t.span(span)(Damds.run(spark, damdsBlocks,
      damdsInit, dn, damdsCfg.copy(maxGatherDoubles = gatherCap)))
    def check(out: AnyRef): Map[String, Any] = {
      val r = out.asInstanceOf[Damds.RunResult]
      val ref = damdsRef
      // the stress of the X the engine returned, recomputed serially
      val xStress = damdsModel.stress(r.x, ref.tCur)
      // the CG count exactly; the stresses up to the order of the
      // engine's reductions, which moves them by ~1e-9 relative
      val ok = r.x.length == ref.x.length && r.state.cgCount == ref.cgCount &&
        relClose(r.state.tCur, ref.tCur, 1e-12) &&
        relClose(r.state.stress, ref.stress, 1e-6) && relClose(xStress, ref.stress, 1e-6)
      Map("ok" -> ok, "stress" -> r.state.stress, "cg_count" -> r.state.cgCount,
        "x_stress" -> xStress, "reference_stress" -> ref.stress,
        "reference_cg_count" -> ref.cgCount)
    }
  }
  /** Distributed path: the gather cap is forced below N×d. */
  val damds: Op = damdsOp("damds", "Damds.run", 1L)
  val damdsGathered: Op = damdsOp("damds_gathered", "Damds.gathered_run", Damds.maxGatherDoubles)

  // ---- AllReduce: 64 payloads of 256k doubles
  val arParts = 64; val arLen = 262144
  lazy val payloads: Dataset[Array[Double]] = {
    val (sd, len) = (seed, arLen)
    spark.range(0, arParts, 1, cores).map { p =>
      Array.tabulate(len)(j => (Gen.bits(sd, 5, p * len + j) & 1023).toDouble)
    }.persist(StorageLevel.MEMORY_AND_DISK)
  }
  /** Small integers, so the sum is exact in any merge order. */
  private lazy val arExpected: Array[Double] = {
    val out = new Array[Double](arLen)
    for (p <- 0 until arParts; j <- 0 until arLen)
      out(j) += (Gen.bits(seed, 5, p.toLong * arLen + j) & 1023).toDouble
    out
  }

  val allReduce: Op = new Op {
    val name = "allreduce"; val module = "collectives"
    def run(t: Tracer): AnyRef = {
      val bc = t.span("Collectives.allReduce")(
        Collectives.allReduce(spark, payloads, Collectives.vectorSum))
      // every task reads the broadcast result, as the reference's second
      // map over the broadcast set does
      t.span("broadcast.read")(payloads.rdd.map(v => bc.value.length + v.length).reduce(_ + _))
      val r = bc.value
      bc.destroy()
      r
    }
    def check(out: AnyRef): Map[String, Any] = {
      val r = out.asInstanceOf[Array[Double]]
      Map("ok" -> java.util.Arrays.equals(r, arExpected), "sum" -> r.sum)
    }
  }

  val ops: Seq[Op] = Seq(kmeans, gemm, damds, damdsGathered, allReduce)

  /** Problem sizes, for the rates computed from the record. */
  def shape: Map[String, Any] = Map(
    "kmeans_points" -> kmN, "kmeans_k" -> kmK, "kmeans_d" -> 2, "kmeans_steps" -> kmIters,
    "gemm_m" -> gm, "gemm_k" -> gk, "gemm_n" -> gn,
    "damds_n" -> dn, "damds_blocks" -> dSplits,
    "allreduce_payloads" -> arParts, "allreduce_doubles" -> arLen)

  /** Materializes the persisted inputs, timing each. */
  def prepare(): Map[String, Double] = {
    def timed(body: => Any): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    Map("kmeans_points_s" -> timed(points.count()),
      "gemm_blocks_s" -> timed(aBlocks.count()),
      "damds_blocks_s" -> timed(damdsBlocks.count()),
      "allreduce_payloads_s" -> timed(payloads.count()))
  }

  def unpersist(): Unit = {
    points.unpersist(); aBlocks.unpersist(); damdsBlocks.unpersist(); payloads.unpersist()
  }
}

/** A serial DA-MDS solve on the driver for the benchmark's inputs, written
  * from the algorithm's definition and sharing no code with
  * `graft.damds`: statistics and floor repair of the distances, the
  * temperature schedule, B(Z)·X, conjugate gradients on V·X = B(Z)·X with
  * the reference's loop structure, and the stress. Distances are
  * recomputed from the latent points on every pass, so no N×N matrix
  * stays on the driver. Unit weights and no missing distances make
  * V = (n + 1)·I − 11ᵀ, so V·X costs O(n·d).
  */
final class DamdsReference(pts: Array[Double], latent: Int, n: Int, d: Int) {
  import DamdsReference._

  private def raw(i: Int, j: Int): Double = dist(pts, latent, i, j) * inv
  private val (sumSq, vmax, pmin) = {
    var sumSq = 0.0; var vmax = 0.0; var pmin = Double.MaxValue
    for (i <- 0 until n; j <- 0 until n) {
      val v = raw(i, j)
      sumSq += v * v; vmax = math.max(vmax, v); if (v > 0) pmin = math.min(pmin, v)
    }
    (sumSq, vmax, pmin)
  }
  // distances below the least positive one (the zero diagonal) are
  // raised to it, through the fixed-point encoding
  private val floor = (pmin * Short.MaxValue).toShort * inv
  private def delta(i: Int, j: Int): Double = { val v = raw(i, j); if (v < pmin) floor else v }

  private def euc(x: Array[Double], i: Int, j: Int): Double = {
    var t = 0.0; var k = 0
    while (k < d) { val e = x(i * d + k) - x(j * d + k); t += e * e; k += 1 }
    math.sqrt(t)
  }
  private def heat(t: Double) = if (t > 1e-9) math.sqrt(2.0 * d) * t else 0.0
  private def dot(a: Array[Double], b: Array[Double]) = a.indices.map(i => a(i) * b(i)).sum
  private def vTimes(x: Array[Double]): Array[Double] = {
    val col = Array.tabulate(d)(k => (0 until n).map(i => x(i * d + k)).sum)
    Array.tabulate(n * d)(i => (n + 1) * x(i) - col(i % d))
  }
  private def bTimes(x: Array[Double], diff: Double): Array[Double] = {
    val out = new Array[Double](n * d)
    for (i <- 0 until n) {
      var diag = 0.0
      for (j <- 0 until n if j != i) {
        val dij = delta(i, j); val e = euc(x, i, j)
        val b = if (e >= 1e-10 && diff < dij) -(dij - diff) / e else 0.0
        for (k <- 0 until d) out(i * d + k) += b * x(j * d + k)
        diag -= b
      }
      for (k <- 0 until d) out(i * d + k) += diag * x(i * d + k)
    }
    out
  }

  /** The stress of X at temperature t. */
  def stress(x: Array[Double], t: Double): Double = {
    val diff = heat(t)
    var s = 0.0
    for (i <- 0 until n; j <- 0 until n) {
      val dij = delta(i, j); val e = if (i != j) euc(x, i, j) else 0.0
      val r = if (dij >= diff) dij - diff - e else -e
      s += r * r
    }
    s / sumSq
  }

  /** CG.java's loop: the stop test reads the residual from before the
    * step and takes effect after it. Updates x; returns the step count. */
  private def cg(x: Array[Double], bc: Array[Double], cgIter: Int, cgThreshold: Double): Int = {
    val ax = vTimes(x)
    val r = Array.tabulate(x.length)(i => bc(i) - ax(i))
    val p = r.clone()
    var rTr = dot(r, r)
    val testEnd = rTr * cgThreshold
    var count = 0; var stop = false
    while (count < cgIter && !stop) {
      val ap = vTimes(p)
      count += 1
      val a = rTr / dot(p, ap)
      for (i <- x.indices) x(i) += a * p(i)
      if (rTr < testEnd) stop = true
      for (i <- r.indices) r(i) -= a * ap(i)
      val rTr1 = dot(r, r)
      val beta = rTr1 / rTr
      rTr = rTr1
      for (i <- p.indices) p(i) = r(i) + beta * p(i)
    }
    count
  }

  /** `temps` temperatures of one stress loop each, from alpha·tMax. */
  def solve(x0: Array[Double], temps: Int, cgIter: Int, cgThreshold: Double,
      alpha: Double, tMinFactor: Double): Solution = {
    val tMin = tMinFactor * pmin / math.sqrt(2.0 * d)
    var t = alpha * vmax / math.sqrt(2.0 * d)
    val x = x0.clone()
    var count = 0
    for (ti <- 0 until temps) {
      if (ti > 0) t = if (t * alpha < tMin) 0.0 else t * alpha
      count += cg(x, bTimes(x, heat(t)), cgIter, cgThreshold)
    }
    Solution(x, stress(x, t), t, count)
  }
}

object DamdsReference {
  final case class Solution(x: Array[Double], stress: Double, tCur: Double, cgCount: Int)

  private val inv = 1.0 / Short.MaxValue

  /** The fixed-point distance between latent points i and j, scaled by
    * the unit cube's diameter into [0, 1). The inputs are made with it. */
  def dist(pts: Array[Double], latent: Int, i: Int, j: Int): Short = {
    var s2 = 0.0; var k = 0
    while (k < latent) {
      val t = pts(i * latent + k) - pts(j * latent + k); s2 += t * t; k += 1
    }
    FixedPoint.encode(math.sqrt(s2) / math.sqrt(latent))
  }
}
