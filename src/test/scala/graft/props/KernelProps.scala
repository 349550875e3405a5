package graft.props

import graft.functions.{HashKernels, HashKernels2}
import graft.mm.{FixedPoint, Gemm, MatrixIO}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** Property tests over the pure kernels (SURVEY §5 plan: each kernel
  * checked against algebraic invariants, not just fixed examples).
  * These run without a SparkSession — the kernels are plain functions.
  */
object KernelProps extends Properties("graft.kernels") {

  private def utf8Array(ts: Seq[String]): GenericArrayData =
    new GenericArrayData(ts.map(t => UTF8String.fromString(t)).toArray[Any])

  // ---- S1 split math ----
  property("rowSplits covers every row exactly once, sizes differ by <= 1") =
    forAll(Gen.chooseNum(0, 5000), Gen.chooseNum(1, 64)) { (rows, splits) =>
      val s = MatrixIO.rowSplits(rows, splits)
      val covered = s.flatMap { case (start, n) => start until (start + n) }
      val sizes = s.map(_._2)
      covered == (0 until rows) &&
        (sizes.isEmpty || sizes.max - sizes.min <= 1) &&
        s.size <= splits
    }

  // ---- N7 fixed point ----
  property("fixed-point decode(encode(d)) within quantization error on [-1,1]") =
    forAll(Gen.chooseNum(-1.0, 1.0)) { d =>
      math.abs(FixedPoint.decode(FixedPoint.encode(d)) - d) <=
        FixedPoint.InvShortMax
    }

  // ---- bounded top-k heap (the ANN top-k aggregation buffer) ----
  private val scoredRows: Gen[List[(Double, Long)]] =
    Gen.listOf(Gen.zip(
      Gen.oneOf(Gen.chooseNum(-1.0, 1.0), Gen.oneOf(0.0, -0.0, 7.5, -7.5)),
      Gen.chooseNum(0L, 50L)))

  private def refTopK(rows: Seq[(Double, Long)], k: Int): Seq[(Double, Long)] =
    rows.sortWith { case ((n1, v1), (n2, v2)) =>
      val c = java.lang.Double.compare(n1, n2)
      c < 0 || (c == 0 && v1 < v2)
    }.take(k)

  property("TopKBuffer insert stream == sort-take reference (ties, -0.0)") =
    forAll(scoredRows, Gen.chooseNum(1, 12)) { (rows, k) =>
      val buf = new graft.functions.TopKBuffer(k)
      rows.foreach { case (n, v) => buf.insert(n, v) }
      val got = buf.sortedRows().map { r =>
        val row = r.asInstanceOf[org.apache.spark.sql.catalyst.expressions.GenericInternalRow]
        (row.getDouble(0), row.getLong(1))
      }.toSeq
      got == refTopK(rows, k)
    }

  property("TopKBuffer merge of arbitrary partitions == global top-k") =
    forAll(scoredRows, Gen.chooseNum(1, 10), Gen.chooseNum(1, 8)) {
      (rows, k, parts) =>
        val bufs = Array.fill(parts)(new graft.functions.TopKBuffer(k))
        rows.zipWithIndex.foreach { case ((n, v), i) =>
          bufs(i % parts).insert(n, v)
        }
        val merged = bufs.reduceLeft { (a, b) => a.merge(b); a }
        val got = merged.sortedRows().map { r =>
          val row = r.asInstanceOf[org.apache.spark.sql.catalyst.expressions.GenericInternalRow]
          (row.getDouble(0), row.getLong(1))
        }.toSeq
        got == refTopK(rows, k)
    }

  // ---- N1 GEMM ----
  private val smallDims = Gen.chooseNum(1, 12)
  property("gemm by the identity returns A") =
    forAll(smallDims, smallDims, Gen.long) { (r, c, seed) =>
      val a = MatrixIO.randomMatrix(r, c, seed)
      // identity is symmetric, so col-major == row-major
      val id = Array.tabulate(c * c)(i => if (i / c == i % c) 1.0 else 0.0)
      Gemm.gemm(a, r, c, id, c).toSeq == a.toSeq
    }

  property("gemm is additive in A: (A1+A2)B = A1*B + A2*B (exact FP: same order)") =
    forAll(smallDims, smallDims, smallDims, Gen.long) { (r, c, n, seed) =>
      // integer-valued entries make FP addition exact, isolating algebra
      val a1 = MatrixIO.randomMatrix(r, c, seed).map(v => (v * 8).floor)
      val a2 = MatrixIO.randomMatrix(r, c, seed + 1).map(v => (v * 8).floor)
      val b = Gemm.toColMajor(
        MatrixIO.randomMatrix(c, n, seed + 2).map(v => (v * 8).floor), c, n)
      val sum = a1.zip(a2).map { case (x, y) => x + y }
      val left = Gemm.gemm(sum, r, c, b, n)
      val right = Gemm.gemm(a1, r, c, b, n)
        .zip(Gemm.gemm(a2, r, c, b, n)).map { case (x, y) => x + y }
      left.toSeq == right.toSeq
    }

  // ---- SimHash ----
  private val tokenGen = Gen.listOf(Gen.alphaNumStr.suchThat(_.nonEmpty))
  property("simhash is token-order invariant") =
    forAll(tokenGen, Gen.long) { (toks, seed) =>
      val shuffled = new scala.util.Random(seed).shuffle(toks)
      HashKernels.simhash(utf8Array(toks)) ==
        HashKernels.simhash(utf8Array(shuffled))
    }

  // ---- MinHash (null = signature of an empty set, the identity) ----
  private def sig(ts: Seq[String], k: Int): Option[Seq[Long]] =
    Option(HashKernels.minhash(utf8Array(ts), k)).map(_.toSeq)

  property("minhash of a union is the elementwise min of the parts") =
    forAll(tokenGen, tokenGen, Gen.chooseNum(1, 16)) { (a, b, k) =>
      val mu = sig(a ++ b, k)
      (sig(a, k), sig(b, k)) match {
        case (None, mb) => mu == mb
        case (ma, None) => mu == ma
        case (Some(ma), Some(mb)) =>
          mu.contains(ma.zip(mb).map { case (x, y) => math.min(x, y) })
      }
    }

  property("minhash is duplicate-insensitive") =
    forAll(tokenGen, Gen.chooseNum(1, 16)) { (a, k) =>
      sig(a, k) == sig(a ++ a, k)
    }

  // ---- sign LSH ----
  property("sign-LSH codes are invariant under positive scaling") =
    forAll(Gen.listOfN(8, Gen.chooseNum(-10.0, 10.0)),
      Gen.chooseNum(0.001, 1000.0), Gen.long) { (v, scale, seed) =>
      val planes = graft.vec.VectorOps.hyperplanes(8, 8, seed).flatten
      val va = new GenericArrayData(v.toArray[Any])
      val vs = new GenericArrayData(v.map(_ * scale).toArray[Any])
      HashKernels2.signLsh(va, planes, 8, 4).toSeq ==
        HashKernels2.signLsh(vs, planes, 8, 4).toSeq
    }

  // ---- nearest centroid ----
  property("nearest centroid dist2 is <= distance to every centroid") =
    forAll(Gen.listOfN(4, Gen.chooseNum(-5.0, 5.0)), Gen.chooseNum(2, 8),
      Gen.long) { (v, k, seed) =>
      val cents = MatrixIO.randomMatrix(k, 4, seed)
      val row = graft.functions.VecKernels.nearest(
        new GenericArrayData(v.toArray[Any]),
        graft.ml.NearestCentroid(cents.grouped(4).toArray))
      val d2 = row.getDouble(0); val cid = row.getInt(1)
      val all = (0 until k).map { c =>
        (0 until 4).map { j =>
          val t = v(j) - cents(c * 4 + j); t * t
        }.sum
      }
      cid >= 0 && cid < k && all.forall(d2 <= _) && d2 == all(cid)
    }

  // ---- content-defined chunking (x07 kernel) ----
  private val payloadGen: Gen[Array[Byte]] =
    Gen.chooseNum(0, 2000).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte)).map(_.toArray))

  property("cdcBoundaries tile the payload with [min,max]-bounded chunks") =
    forAll(payloadGen, Gen.chooseNum(4, 32), Gen.chooseNum(2, 8)) {
      (p, min, bits) =>
        val max = min * 4
        val bs = graft.multimodal.Multimodal.cdcBoundaries(p, min, max, bits)
        val tiled = bs.map(_._2).sum == p.length &&
          bs.scanLeft(0) { case (off, (o, l)) => { assert(o == off); o + l } }
            .last == p.length
        val bounded = bs.zipWithIndex.forall { case ((_, l), i) =>
          l <= max && (l >= min || i == bs.length - 1)
        }
        tiled && bounded
    }

  property("cdc boundaries are prefix-stable: appending bytes never moves them") =
    forAll(payloadGen, Gen.chooseNum(1, 64)) { (p, extraN) =>
      // content-defined cuts depend only on bytes up to the cut, so the
      // chunking of `p` and of `p ++ extra` agree on every boundary
      // except p's final (possibly partial, possibly still-open) chunk
      val extra = Array.fill(extraN)(0x5a.toByte)
      val a = graft.multimodal.Multimodal.cdcBoundaries(p, 16, 64, 5)
      val b = graft.multimodal.Multimodal.cdcBoundaries(p ++ extra, 16, 64, 5)
      val aClosed = a.dropRight(1) // the tail chunk may extend/split
      b.take(aClosed.length).sameElements(aClosed)
    }

  property("fnv64 matches the FNV-1a reference on any range") =
    forAll(payloadGen) { p =>
      val from = 0
      var h = java.lang.Long.parseUnsignedLong("cbf29ce484222325", 16)
      p.foreach { b =>
        h ^= (b & 0xff).toLong
        h *= java.lang.Long.parseUnsignedLong("100000001b3", 16)
      }
      graft.multimodal.Multimodal.fnv64(p, from, p.length) == h
    }
}
