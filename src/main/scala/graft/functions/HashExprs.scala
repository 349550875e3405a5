package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShims.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.types.{ArrayType, DataType, Decimal, DecimalType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}

/** Native Catalyst expressions for the text-dedup hash kernels.
  *
  * The higher-order-function forms of SimHash/MinHash are O(tokens × 64)
  * resp. O(shingles × k) *array materializations* per row (each `zip_with`
  * / `transform` step allocates); these expressions do the same math in
  * one tight primitive loop per row with zero allocation beyond the
  * output, and generate straight-line Java via `doGenCode` so they stay
  * inside WholeStageCodegen. Semantics of the hash itself match Spark's
  * `xxhash64` (XXH64 over the UTF-8 bytes, same as the HOF versions).
  */
object HashKernels {

  /** One-pass 64-bit SimHash over the xxhash64 of each token. */
  def simhash(arr: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
          s.numBytes, 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) != 0L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** One-pass vocabulary term counting: counts(i) = occurrences of
    * vocab term i in the token array. O(tokens) hash probes; see
    * TermCountsExpr. */
  def termCounts(arr: ArrayData,
      index: java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Integer],
      vocabSize: Int): Array[Int] = {
    val counts = new Array[Int](vocabSize)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val p = index.get(arr.getUTF8String(i))
        if (p != null) counts(p.intValue()) += 1
      }
      i += 1
    }
    counts
  }

  /** One-pass k-slot min-hash signature, value-identical to the HOF
    * form `array_min(transform(sh, t -> xxhash64(t, slot + 1)))`:
    * Spark's multi-arg xxhash64 CHAINS — bytes hashed with seed 42,
    * then the int literal mixed with that result as seed — so the
    * expensive byte hash happens once per shingle and the k per-slot
    * values are k cheap int-mixes of it. Returns null when there are
    * no shingles (the HOF array_min of an empty array is null) — a
    * sentinel signature here would make every short doc an exact LSH
    * match of every other.
    */
  def minhash(arr: ArrayData, k: Int): Array[Long] = {
    val mins = Array.fill(k)(Long.MaxValue)
    val n = arr.numElements()
    var any = false
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        any = true
        val s = arr.getUTF8String(i)
        val base = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
          s.numBytes, 42L)
        var j = 0
        while (j < k) {
          val h = XXH64.hashInt(j + 1, base)
          if (h < mins(j)) mins(j) = h
          j += 1
        }
      }
      i += 1
    }
    if (any) mins else null
  }
}

/** simhash64(tokens: array<string>) → bigint. */
final case class SimHash64Expr(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (DataType.equalsStructurally(child.dataType, ArrayType(StringType), ignoreNullability = true))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<string>, got ${child.dataType.sql}")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  override protected def nullSafeEval(input: Any): Any =
    HashKernels.simhash(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashKernels.simhash($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
}

/** minhash_signature(shingles: array<string>, k) → array<bigint>. */
final case class MinHashSigExpr(child: Expression, k: Int)
    extends UnaryExpression {
  require(k > 0 && k <= 1024, s"bad k=$k")
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (DataType.equalsStructurally(child.dataType, ArrayType(StringType), ignoreNullability = true))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<string>, got ${child.dataType.sql}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true // empty shingle set -> null
  override def prettyName: String = "graft_minhash_signature"

  override protected def nullSafeEval(input: Any): Any = {
    val m = HashKernels.minhash(input.asInstanceOf[ArrayData], k)
    if (m == null) null else new GenericArrayData(m)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("mh")
      s"""long[] $tmp = graft.functions.HashKernels.minhash($c, $k);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($tmp); }
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
}

object HashKernels2 {
  /** Fused n-gram-shingle MinHash: slides an n-token window, builds the
    * shingle's UTF-8 bytes (tokens joined by ' ') in a reusable buffer,
    * hashes once, and folds the k per-slot mins — value-identical to
    * `minhash(array_distinct(transform(seq, i -> concat_ws(' ', ...))))`
    * because (a) the byte stream equals concat_ws output and (b) min is
    * duplicate-insensitive, so the distinct step is unnecessary. Saves
    * the per-shingle string/array materializations of the two-step form.
    */
  def minhashShingles(toks: ArrayData, n: Int, k: Int): Array[Long] = {
    val numToks = toks.numElements()
    if (numToks < n) return null // no shingles -> null, like minhash()
    val mins = Array.fill(k)(Long.MaxValue)
    var buf = new Array[Byte](256)
    var i = 0
    while (i <= numToks - n) {
      var len = 0
      var j = 0
      while (j < n) {
        val s = toks.getUTF8String(i + j)
        val nb = s.numBytes
        if (len + nb + 1 > buf.length)
          buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + nb + 1))
        s.writeToMemory(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + len)
        len += nb
        if (j < n - 1) { buf(len) = ' '; len += 1 }
        j += 1
      }
      val base = XXH64.hashUnsafeBytes(buf,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len, 42L)
      var slot = 0
      while (slot < k) {
        val h = XXH64.hashInt(slot + 1, base)
        if (h < mins(slot)) mins(slot) = h
        slot += 1
      }
      i += 1
    }
    mins
  }

  /** Positioned L-gram hashes: one xxhash64 per window start, over the
    * same tokens-joined-by-' ' byte stream `minhashShingles` builds —
    * the production-hash sibling of the md5 gram pipeline (exact
    * substring dedup, d82), POSITIONED (no distinct: slot i is the
    * gram starting at token i). */
  def gramHashes(toks: ArrayData, l: Int): Array[Long] = {
    val numToks = toks.numElements()
    if (numToks < l) return null
    val out = new Array[Long](numToks - l + 1)
    var buf = new Array[Byte](256)
    var i = 0
    while (i <= numToks - l) {
      var len = 0
      var j = 0
      while (j < l) {
        val s = toks.getUTF8String(i + j)
        val nb = s.numBytes
        if (len + nb + 1 > buf.length)
          buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + nb + 1))
        s.writeToMemory(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + len)
        len += nb
        if (j < l - 1) { buf(len) = ' '; len += 1 }
        j += 1
      }
      out(i) = XXH64.hashUnsafeBytes(buf,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len, 42L)
      i += 1
    }
    out
  }

  /** The engine's md5-derived sketch coins all parse a hex PREFIX of
    * the digest back into an integer:
    * `cast(conv(substring(md5(x), 1, k), 16, 10) as bigint)`. That
    * chain materializes the 32-char hex string, substrings it, and
    * re-parses base-16 — three string allocations per call on
    * per-gram-occurrence hot paths (HLL registers, bloom positions,
    * classifier/perplexity bucket hashes). This kernel computes the
    * digest once and folds the first k nibbles directly:
    * value-identical because the hex rendering is just the digest's
    * nibble sequence and `conv` parses it back unsigned (k ≤ 15 keeps
    * the value under 2^60, inside Long). MessageDigest is per-thread
    * (not thread-safe, and allocating one per row is exactly the
    * garbage this kernel exists to avoid). */
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def md5Prefix(bytes: Array[Byte], hexDigits: Int): Long =
    md5PrefixRange(bytes, bytes.length, hexDigits)

  /** Same coin over the first `len` bytes of a reusable buffer — the
    * zero-copy entry the gram-walk kernels use. */
  def md5PrefixRange(bytes: Array[Byte], len: Int, hexDigits: Int): Long = {
    val md = md5Local.get()
    md.reset()
    md.update(bytes, 0, len)
    val d = md.digest()
    var v = 0L
    var i = 0
    while (i < hexDigits) {
      val b = d(i >> 1) & 0xff
      v = (v << 4) | (if ((i & 1) == 0) b >>> 4 else b & 0xf)
      i += 1
    }
    v
  }

  /** The full md5 digest as a 3-long sort key: the 32 nibbles split
    * [0,15), [15,30), [30,32) and each run parsed as a non-negative
    * long. Elementwise array order over the key is EXACTLY the
    * lexicographic order of the digest's 32-char lowercase-hex
    * rendering (hex is a monotone per-nibble encoding and all three
    * limbs are zero-extended), so an ORDER BY on the key reproduces an
    * ORDER BY on md5-hex — the d24 family's oracle-shared ordering
    * coin — with zero string materialization and 8-byte comparisons
    * (VERDICT r19 next 6: the last hex round-trip class left after the
    * r19 md5Prefix sweep). */
  def md5SortKey(bytes: Array[Byte]): Array[Long] = {
    val md = md5Local.get()
    md.reset()
    md.update(bytes)
    val d = md.digest()
    def nib(start: Int, n: Int): Long = {
      var v = 0L
      var i = start
      while (i < start + n) {
        val b = d(i >> 1) & 0xff
        v = (v << 4) | (if ((i & 1) == 0) b >>> 4 else b & 0xf)
        i += 1
      }
      v
    }
    Array(nib(0, 15), nib(15, 15), nib(30, 2))
  }

  /** Slot prefixes of the md5-minhash coin: the UTF-8 bytes of
    * `"<slot> "` for slot 0..63 — the `concat(cast(i as string), ' ', x)`
    * head of the oracle-shared hash input, built once. */
  private val mhSlotPrefixes: Array[Array[Byte]] =
    Array.tabulate(64)(i => (i.toString + " ")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private val hexDigitsLower: Array[Byte] =
    "0123456789abcdef".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  private def md5HexLower(d: Array[Byte]): UTF8String = {
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      val b = d(i) & 0xff
      out(2 * i) = hexDigitsLower(b >>> 4)
      out(2 * i + 1) = hexDigitsLower(b & 0xf)
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** k-slot md5-minhash signature over a shingle array — the native
    * form of the d10-family oracle coin
    * `transform(sequence(0, k-1), i -> array_min(transform(sh, x ->
    *   md5(cast(concat(cast(i as string), ' ', x) as binary)))))`.
    * Value-identical because (a) the digested byte stream per (slot,
    * shingle) is exactly the concat's UTF-8 bytes, (b) unsigned
    * byte-wise digest order equals the lowercase-hex string order
    * (hex is a monotone per-nibble encoding), so the per-slot min
    * digest IS the per-slot min hex string — only the k winning
    * digests are ever hex-rendered, where the HOF form rendered (and
    * compared) a 32-char string per (slot, shingle). Null elements are
    * skipped (concat of null → null, array_min ignores nulls) and an
    * empty / all-null shingle array yields k null slots (array_min of
    * an empty array), matching the HOF edge cases. A NULL shingle
    * ARRAY also yields k null slots, never a null array — the HOF's
    * outer transform runs over `sequence(0, k-1)`, which is never
    * null. The interpreted HOF also paid a new MessageDigest +
    * concat/cast churn per (slot, shingle); this walk reuses the
    * thread-local digest. */
  def md5MinhashHex(sh: ArrayData, k: Int): GenericArrayData = {
    val n = if (sh == null) 0 else sh.numElements()
    val md = md5Local.get()
    val mins = new Array[Array[Byte]](k)
    val dig = new Array[Byte](16)
    var e = 0
    while (e < n) {
      if (!sh.isNullAt(e)) {
        val bytes = sh.getUTF8String(e).getBytes
        var i = 0
        while (i < k) {
          md.reset()
          md.update(mhSlotPrefixes(i))
          md.update(bytes)
          md.digest(dig, 0, 16)
          val cur = mins(i)
          if (cur == null) mins(i) = java.util.Arrays.copyOf(dig, 16)
          else {
            var j = 0
            var cmp = 0
            while (j < 16 && cmp == 0) {
              cmp = (dig(j) & 0xff) - (cur(j) & 0xff)
              j += 1
            }
            if (cmp < 0) System.arraycopy(dig, 0, cur, 0, 16)
          }
          i += 1
        }
      }
      e += 1
    }
    val out = new Array[AnyRef](k)
    var i = 0
    while (i < k) {
      out(i) = if (mins(i) == null) null else md5HexLower(mins(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Weighted gram-bucket sum over the shared uni+bigram walk — the
    * native form of the d38 classifier fold
    * `aggregate(concat(toks, bigrams), 0.0, (acc, g) ->
    *    acc + weights[pmod(md5_prefix(g, 6), buckets)])`.
    * Bit-identical: the double adds run in the HOF's exact gram order
    * (unigrams ascending, then bigrams ascending — `uniBigramExpr`'s
    * concat order), each bigram's digested bytes equal concat_ws(' ')
    * output, and md5Prefix(·, 6) is non-negative so pmod degenerates
    * to %. The HOF paid an interpreted lambda + concat/cast churn per
    * gram and materialized the gram STRING array per row; this walk
    * digests token bytes in place (reusable buffer, thread-local
    * MessageDigest) and allocates nothing per row. A null ELEMENT
    * nulls the whole sum, exactly like the HOF (the null token is a
    * null unigram gram; `acc + null` poisons the fold) — unreachable
    * off normTokens output, but faithful. */
  def qcGramWsum(toks: ArrayData, weights: Array[Double],
      buckets: Int): java.lang.Double = {
    val n = toks.numElements()
    var j = 0
    while (j < n) {
      if (toks.isNullAt(j)) return null
      j += 1
    }
    var acc = 0.0
    var i = 0
    while (i < n) { // unigrams, ascending
      val s = toks.getUTF8String(i)
      acc += weights((md5Prefix(s.getBytes, 6) % buckets).toInt)
      i += 1
    }
    if (n >= 2) { // bigrams, ascending
      var buf = new Array[Byte](256)
      i = 0
      while (i < n - 1) {
        val a = toks.getUTF8String(i)
        val b = toks.getUTF8String(i + 1)
        val na = a.numBytes
        val nb = b.numBytes
        if (na + nb + 1 > buf.length)
          buf = java.util.Arrays.copyOf(buf,
            math.max(buf.length * 2, na + nb + 1))
        a.writeToMemory(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET)
        buf(na) = ' '
        b.writeToMemory(buf,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + na + 1)
        acc += weights(
          (md5PrefixRange(buf, na + nb + 1, 6) % buckets).toInt)
        i += 1
      }
    }
    java.lang.Double.valueOf(acc)
  }

  /** Bloom-screen hit count — the native form of d57/s23's nested fold
    * `aggregate(grams, 0L, (acc, g) -> acc + PRODUCT over i<k of
    *   bit((md5_prefix('<i> ' + g, 4)))`: per gram, k digest positions
    * probed against the bitmap, hit iff ALL k bits are set. All-integer
    * math in the HOF's gram order (order-free anyway), identical digest
    * inputs (the '<i> ' prefix is the md5-minhash slot prefix), so the
    * count is value-identical; the HOF paid an interpreted lambda +
    * concat/cast churn per (gram, slot) plus an element_at per probe. A
    * null GRAM nulls the whole count, exactly like the HOF (md5 of
    * null → null probe → null product → poisoned fold). */
  def bloomHits(grams: ArrayData, bits: Array[Long], k: Int,
      hexDigits: Int): java.lang.Long = {
    val n = grams.numElements()
    var j = 0
    while (j < n) {
      if (grams.isNullAt(j)) return null
      j += 1
    }
    val md = md5Local.get()
    val dig = new Array[Byte](16)
    var acc = 0L
    var g = 0
    while (g < n) {
      val bytes = grams.getUTF8String(g).getBytes
      var hit = true
      var i = 0
      // short-circuit on the first unset bit: the HOF's product of
      // 0/1 bits is 0 from that point on, so the VALUE is identical —
      // only the unprobed positions' digests are skipped
      while (hit && i < k) {
        md.reset()
        md.update(mhSlotPrefixes(i))
        md.update(bytes)
        md.digest(dig, 0, 16)
        var p = 0L
        var h = 0
        while (h < hexDigits) {
          val b = dig(h >> 1) & 0xff
          p = (p << 4) | (if ((h & 1) == 0) b >>> 4 else b & 0xf)
          h += 1
        }
        hit = ((bits((p >>> 6).toInt) >>> (p & 63)) & 1L) == 1L
        i += 1
      }
      if (hit) acc += 1L
      g += 1
    }
    java.lang.Long.valueOf(acc)
  }

  /** Bigram-LM micro-nat score — the native form of d44/s16's fold
    * `aggregate(sequence(0, n-2), 0L, (acc, i) ->
    *   acc + lnc[bucket(tok_i ' ' tok_{i+1})] - lnd[bucket(tok_i)])`.
    * Long adds in the HOF's index order (order-free anyway), identical
    * digest bytes (the bigram buffer equals concat_ws output), so the
    * score is value-identical. Input contract: the null-free normTokens
    * shape (enforced by the expression's type check) — the HOF's
    * null-element semantics are unreachable through that type. */
  def bigramLmScore(toks: ArrayData, lnc: Array[Long], lnd: Array[Long],
      buckets: Int): Long = {
    val n = toks.numElements()
    var acc = 0L
    var buf = new Array[Byte](256)
    var i = 0
    while (i < n - 1) {
      val a = toks.getUTF8String(i)
      val b = toks.getUTF8String(i + 1)
      val na = a.numBytes
      val nb = b.numBytes
      if (na + nb + 1 > buf.length)
        buf = java.util.Arrays.copyOf(buf,
          math.max(buf.length * 2, na + nb + 1))
      a.writeToMemory(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET)
      buf(na) = ' '
      b.writeToMemory(buf,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + na + 1)
      acc += lnc((md5PrefixRange(buf, na + nb + 1, 6) % buckets).toInt)
      // the unigram probe reads buf[0, na) — tok_i's bytes are already
      // there from the bigram build
      acc -= lnd((md5PrefixRange(buf, na, 6) % buckets).toInt)
      i += 1
    }
    acc
  }

  /** Σ length(t) over a token array — the native form of the d03/d09/
    * m09 fold `aggregate(toks, 0, (a, t) -> a + length(t))`. Int adds
    * (same wrap semantics as the HOF's int accumulator) over character
    * counts (UTF8String.numChars — what length() returns). Input
    * contract: null-free normTokens shape (type-checked). */
  def tokLenSum(toks: ArrayData): Int = {
    val n = toks.numElements()
    var acc = 0
    var i = 0
    while (i < n) {
      acc += toks.getUTF8String(i).numChars()
      i += 1
    }
    acc
  }

  /** Fixed-size block md5 structs over a binary payload — the native
    * form of the x06/x08/s25 block-cutting fold
    * `transform(sequence(0, ceil(len/B)-1), i ->
    *   struct(md5(substring(payload, i*B+1, B)), octet_length(...)))`.
    * Value-identical for non-empty payloads (every call site filters
    * octet_length > 0): each digest covers the identical byte slice
    * and renders the identical lowercase hex. The HOF paid TWO
    * substring copies + an interpreted md5 + struct churn per block;
    * this walk digests in place off the payload array. An EMPTY
    * payload returns an empty array (the HOF's sequence(0, -1)
    * descends into nonsense there — unreachable through the filter). */
  def blockMd5(payload: Array[Byte], blockBytes: Int): GenericArrayData = {
    val len = payload.length
    val nb = (len + blockBytes - 1) / blockBytes
    val md = md5Local.get()
    val dig = new Array[Byte](16)
    val out = new Array[AnyRef](nb)
    var i = 0
    while (i < nb) {
      val off = i * blockBytes
      val blen = math.min(blockBytes, len - off)
      md.reset()
      md.update(payload, off, blen)
      md.digest(dig, 0, 16)
      out(i) = new GenericInternalRow(
        Array[Any](md5HexLower(dig), blen.toLong))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** BM25 micro-score fold — the native form of the d51/s17 screen's
    * `aggregate(q, 0L, (acc, p) -> acc + cast(floor(p._2 *
    *   ((tf[p._1] * 2.2) / (tf[p._1] + 1.2 * (0.25 + 0.75 *
    *   (cast(dl * nd as double) / tt)))) + 0.5) as bigint))`.
    * Long adds (order-free); the per-term double expression runs the
    * HOF's exact op sequence — the per-doc constant
    * `1.2 * (0.25 + 0.75 * (dl·nd / tt))` is hoisted out of the loop,
    * which is value-preserving because the HOF recomputed the
    * IDENTICAL ops from identical inputs per term. */
  def bm25Sm(tf: ArrayData, dl: Long, terms: ArrayData, nd: Long,
      tt: Long): Long = {
    val denC = 1.2 * (0.25 + 0.75 * ((dl * nd).toDouble / tt))
    var acc = 0L
    val n = terms.numElements()
    var i = 0
    while (i < n) {
      val p = terms.getStruct(i, 2)
      val tfv = tf.getInt(p.getInt(0)) // element_at(tf, p._1 + 1)
      acc += math.floor(p.getLong(1) * ((tfv * 2.2) / (tfv + denC)) + 0.5)
        .toLong
      i += 1
    }
    acc
  }

  /** Occurrence count of tokens present in a FIXED vocabulary set —
    * the native form of `size(filter(toks, t -> t IN (...)))` (the
    * d03/m09 stopword-ratio fold): O(tokens) hash probes on UTF8String
    * binary equality, the same comparison the IN list compiles to. */
  /** cast(double AS DECIMAL(18,2)) without the Double.toString →
    * BigDecimal parse in the common range — the r22 money-fold diet
    * (the same pre-Ryu-toString disease DecimalSnap.snapFast15 cured
    * for the scale-15 registers, at scale 2). Contract replicated
    * bit-for-bit (pinned against the Cast in HashExprsSpec):
    * HALF_UP rounding of the SHORTEST-decimal rendering R of d at 2
    * fractional digits; NaN/±Inf → null (probed: Spark 4 ANSI cast
    * yields NULL for non-numeric doubles and THROWS only on decimal
    * overflow); |unscaled| needing precision > 18 → ArithmeticException
    * (the ANSI overflow, unreachable from the fixture's money columns).
    *
    * Fast path (the snapFast15 interval argument at scale 2): with
    * d = ±m·2^e and t = −(e+2), d·100 = m·25/2^t, so in U = 50·m units
    * (U ≤ 2^58.7 — single long, unlike scale 15) the HALF_UP
    * discontinuities are the odd multiples of 2^t and R is only known
    * to lie in the read-back interval U ± 25 (ulp/2 · 100 · 2^(t+1) =
    * 50/2 = 25 exactly). If [U−25, U+25] contains no multiple of 2^t
    * (conservative: parity ignored — crossing an EVEN multiple, an
    * integer of the d·100 scale, never moves HALF_UP), every value in
    * it — R included — snaps to floor((U + 2^t)/2^(t+1)). t ≥ 61 ⇒
    * 2^t > U + 25 ⇒ the whole interval sits below the first half-point
    * and the snap is 0. t ≤ 0 (|d| ≳ 2^50) falls back to the toString
    * reference, as does a boundary-ambiguous interval. t ≥ 1 bounds
    * |d·100| < 2^51·100 < 10^18, so the fast path never needs the
    * precision-18 overflow check. */
  def dec2(d: Double): Decimal = {
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) return null
    val bits = java.lang.Double.doubleToRawLongBits(d)
    val biased = ((bits >>> 52) & 0x7ff).toInt
    var m = bits & 0xfffffffffffffL
    var e = -1074
    if (biased != 0) { m |= (1L << 52); e = biased - 1075 }
    if (m == 0L) return Decimal(0L, 18, 2)
    val t = -(e + 2)
    if (t >= 61) return Decimal(0L, 18, 2)
    if (t >= 1) {
      val u = 50L * m
      val lo = u - 25L
      val hi = u + 25L
      val mask = (1L << t) - 1L
      if ((lo >>> t) == (hi >>> t) && (lo & mask) != 0L) {
        val abs = (u + (1L << t)) >>> (t + 1)
        return Decimal(if (bits < 0) -abs else abs, 18, 2)
      }
    }
    dec2ViaString(d)
  }

  /** The toString reference path — the contract's definition (what
    * Spark's Cast does); the fast path must agree wherever it
    * answers. */
  def dec2ViaString(d: Double): Decimal = {
    val bd = new java.math.BigDecimal(java.lang.Double.toString(d))
      .setScale(2, java.math.RoundingMode.HALF_UP)
    if (bd.precision > 18)
      throw new ArithmeticException(
        s"$bd cannot be represented as Decimal(18, 2) (graft_dec2, the ANSI overflow)")
    Decimal(bd.unscaledValue.longValueExact, 18, 2)
  }

  def countIn(toks: ArrayData,
      set: java.util.HashSet[UTF8String]): Int = {
    val n = toks.numElements()
    var acc = 0
    var i = 0
    while (i < n) {
      if (set.contains(toks.getUTF8String(i))) acc += 1
      i += 1
    }
    acc
  }

  /** Positioned L-gram md5-prefix hashes — gramHashes' md5 sibling for
    * the KMV fronts (d61/d62/s27): one 40-bit oracle-shared hash per
    * window start, over the same tokens-joined-by-' ' byte stream,
    * with NO gram-string array / array_distinct / string explode. The
    * in-doc distinct step is dropped deliberately: every consumer
    * feeds minKDistinct, which depends only on the value SET, so the
    * multiset of positioned hashes yields the identical sketch. */
  def md5PrefixGrams(toks: ArrayData, l: Int, hexDigits: Int): Array[Long] = {
    val numToks = toks.numElements()
    if (numToks < l) return null
    val out = new Array[Long](numToks - l + 1)
    var buf = new Array[Byte](256)
    var i = 0
    while (i <= numToks - l) {
      var len = 0
      var j = 0
      while (j < l) {
        val s = toks.getUTF8String(i + j)
        val nb = s.numBytes
        if (len + nb + 1 > buf.length)
          buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + nb + 1))
        s.writeToMemory(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + len)
        len += nb
        if (j < l - 1) { buf(len) = ' '; len += 1 }
        j += 1
      }
      out(i) = md5PrefixRange(buf, len, hexDigits)
      i += 1
    }
    out
  }

  /** Min and max md5 hex over the ' '-joined n-gram windows of a token
    * array — the native form of d12's two shingle HOF passes
    * `array_min(transform(sh, t -> md5(cast(t as binary))))` /
    * `array_max(...)` over `sh = shingles(toks, n)`. min/max are
    * duplicate-insensitive, so the distinct shingle-string array never
    * needs to exist (the minhashShingles argument); 16-byte digests
    * compare in unsigned byte order ≡ lowercase-hex order (a monotone
    * per-nibble encoding — the Md5MinhashExpr argument), so only the
    * two winners are hex-rendered where the HOF rendered a 32-char
    * string per (pass, shingle). Null when fewer than n tokens
    * (callers filter size(toks) >= n, like the gramHashes sites). */
  def md5MinMax(toks: ArrayData, n: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val numToks = toks.numElements()
    if (numToks < n) return null
    val md = md5Local.get()
    val dig = new Array[Byte](16)
    val mn = new Array[Byte](16)
    val mx = new Array[Byte](16)
    var buf = new Array[Byte](256)
    var i = 0
    while (i <= numToks - n) {
      var len = 0
      var j = 0
      while (j < n) {
        val s = toks.getUTF8String(i + j)
        val nb = s.numBytes
        if (len + nb + 1 > buf.length)
          buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + nb + 1))
        s.writeToMemory(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + len)
        len += nb
        if (j < n - 1) { buf(len) = ' '; len += 1 }
        j += 1
      }
      md.reset()
      md.update(buf, 0, len)
      md.digest(dig, 0, 16)
      if (i == 0) {
        System.arraycopy(dig, 0, mn, 0, 16)
        System.arraycopy(dig, 0, mx, 0, 16)
      } else {
        var c = 0
        var k = 0
        while (k < 16 && c == 0) { c = (dig(k) & 0xff) - (mn(k) & 0xff); k += 1 }
        if (c < 0) System.arraycopy(dig, 0, mn, 0, 16)
        c = 0
        k = 0
        while (k < 16 && c == 0) { c = (dig(k) & 0xff) - (mx(k) & 0xff); k += 1 }
        if (c > 0) System.arraycopy(dig, 0, mx, 0, 16)
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](md5HexLower(mn), md5HexLower(mx)))
  }

  /** EXACT count of distinct ' '-joined l-gram windows of a token
    * array — the native form of d13's `size(shingles(toks, l))` with
    * NO gram-string materialization and NO hash-collision premise:
    * the open-addressed table keys on an internal window hash, and
    * hash-equal candidates are compared token-by-token (normTokens
    * tokens are whitespace-free, so joined-string equality ⟺
    * token-sequence equality — the split/join bijection). Returns 0
    * when fewer than l tokens (unreachable: callers filter
    * size(toks) >= l; the HOF's degenerate sequence(0, size-l) branch
    * there is not reproduced, like gramHashes). */
  def gramDistinctCount(toks: ArrayData, l: Int): Int = {
    val n = toks.numElements()
    if (n < l) return 0
    val w = n - l + 1
    // per-token hashes once, then a polynomial window hash; the table
    // key is internal-only — exactness comes from the token compare
    val th = new Array[Long](n)
    var i = 0
    while (i < n) { th(i) = toks.getUTF8String(i).hashCode().toLong; i += 1 }
    val cap = java.lang.Integer.highestOneBit(math.max(4, w * 2 - 1)) << 1
    val mask = cap - 1
    val slotWin = new Array[Int](cap)
    java.util.Arrays.fill(slotWin, -1)
    val slotHash = new Array[Long](cap)
    var count = 0
    i = 0
    while (i < w) {
      var h = -7046029254386353131L
      var j = 0
      while (j < l) { h = h * 31 + th(i + j); j += 1 }
      h ^= h >>> 33; h *= -49064778989728563L; h ^= h >>> 29
      var idx = (h & mask).toInt
      var dup = false
      var done = false
      while (!done) {
        val sw = slotWin(idx)
        if (sw == -1) done = true
        else if (slotHash(idx) == h && {
          var t = 0
          var eq = true
          while (eq && t < l) {
            if (!toks.getUTF8String(sw + t).equals(toks.getUTF8String(i + t)))
              eq = false
            t += 1
          }
          eq
        }) { dup = true; done = true }
        else idx = (idx + 1) & mask
      }
      if (!dup) { slotWin(idx) = i; slotHash(idx) = h; count += 1 }
      i += 1
    }
    count
  }

  /** One-pass sign-LSH band codes: project v on every hyperplane (flat
    * row-major planes matrix), take sign bits, pack `bitsPerBand` bits
    * per band with the band index folded into the high bits —
    * value-identical to the HOF `VectorOps.bandCodes` form.
    */
  def signLsh(v: ArrayData, planes: Array[Double], dim: Int,
      bitsPerBand: Int): Array[Long] = {
    val nPlanes = planes.length / dim
    val bands = nPlanes / bitsPerBand
    val codes = new Array[Long](bands)
    var p = 0
    while (p < nPlanes) {
      var dot = 0.0
      var j = 0
      val off = p * dim
      while (j < dim) { dot += v.getDouble(j) * planes(off + j); j += 1 }
      if (dot >= 0.0) codes(p / bitsPerBand) |= (1L << (p % bitsPerBand))
      p += 1
    }
    var b = 0
    while (b < bands) { codes(b) += b.toLong << bitsPerBand; b += 1 }
    codes
  }
}

/** minhash_shingles(tokens: array<string>, n, k) → array<bigint>. */
final case class MinHashShinglesExpr(child: Expression, n: Int, k: Int)
    extends UnaryExpression {
  require(n > 0 && k > 0 && k <= 1024, s"bad n=$n k=$k")
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (DataType.equalsStructurally(child.dataType, ArrayType(StringType),
        ignoreNullability = true))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<string>, got ${child.dataType.sql}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true // fewer than n tokens -> null
  override def prettyName: String = "graft_minhash_shingles"

  override protected def nullSafeEval(input: Any): Any = {
    val m = HashKernels2.minhashShingles(input.asInstanceOf[ArrayData], n, k)
    if (m == null) null else new GenericArrayData(m)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("mhs")
      s"""long[] $tmp = graft.functions.HashKernels2.minhashShingles($c, $n, $k);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($tmp); }
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashShinglesExpr =
    copy(child = newChild)
}

/** gram_hashes(tokens: array<string>, l) → array<bigint>: one xxhash64
  * per positioned L-gram window (the d82 production-hash kernel). */
final case class GramHashesExpr(child: Expression, l: Int)
    extends UnaryExpression {
  require(l > 0 && l <= 1024, s"bad l=$l")
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (DataType.equalsStructurally(child.dataType, ArrayType(StringType),
        ignoreNullability = true))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<string>, got ${child.dataType.sql}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true // fewer than l tokens -> null
  override def prettyName: String = "graft_gram_hashes"

  override protected def nullSafeEval(input: Any): Any = {
    val h = HashKernels2.gramHashes(input.asInstanceOf[ArrayData], l)
    if (h == null) null else new GenericArrayData(h)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("gh")
      s"""long[] $tmp = graft.functions.HashKernels2.gramHashes($c, $l);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($tmp); }
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): GramHashesExpr =
    copy(child = newChild)
}

/** md5_prefix(bin: binary, hexDigits) → bigint: the first `hexDigits`
  * hex characters of md5(bin) parsed base-16 — value-identical to
  * `cast(conv(substring(md5(bin), 1, hexDigits), 16, 10) as bigint)`
  * with zero string materialization (see [[HashKernels2.md5Prefix]]).
  * The md5 coin itself stays: it is the hash both engines share, so
  * every oracle keeps gating the sketch values bit-for-bit. */
final case class Md5PrefixExpr(child: Expression, hexDigits: Int)
    extends UnaryExpression {
  require(hexDigits >= 1 && hexDigits <= 15, s"bad hexDigits=$hexDigits")
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs binary, got ${child.dataType.sql}")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_md5_prefix"

  override protected def nullSafeEval(input: Any): Any =
    HashKernels2.md5Prefix(input.asInstanceOf[Array[Byte]], hexDigits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashKernels2.md5Prefix($c, $hexDigits)")

  override protected def withNewChildInternal(newChild: Expression): Md5PrefixExpr =
    copy(child = newChild)
}

/** md5_sort_key(bin: binary) → array<bigint>: md5(bin)'s 32 nibbles as
  * three non-negative longs ([15,15,2] nibbles) whose elementwise array
  * order equals the hex string's lexicographic order — the ordering
  * twin of [[Md5PrefixExpr]] for sites that sort on the FULL digest
  * (see [[HashKernels2.md5SortKey]]). The md5 coin itself stays: it is
  * the hash both engines share, so the oracle keeps gating the order
  * bit-for-bit. */
final case class Md5SortKeyExpr(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs binary, got ${child.dataType.sql}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_md5_sort_key"

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      HashKernels2.md5SortKey(input.asInstanceOf[Array[Byte]]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.HashKernels2.md5SortKey($c))")

  override protected def withNewChildInternal(newChild: Expression): Md5SortKeyExpr =
    copy(child = newChild)
}

/** md5_minhash(sh: array<string>, k) → array<string>: the k-slot
  * md5-minhash signature (lowercase 32-char hex per slot) — see
  * [[HashKernels2.md5MinhashHex]] for the value-identity argument
  * against the interpreted HOF form it replaces (the s09/d10 hot
  * projection, VERDICT r21 next 2). The md5 coin itself stays: it is
  * the hash both engines share, so the string-keyed oracle keeps
  * gating every signature bit-for-bit. */
final case class Md5MinhashExpr(child: Expression, k: Int)
    extends UnaryExpression {
  require(k >= 1 && k <= 64, s"bad k=$k")
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (DataType.equalsStructurally(child.dataType, ArrayType(StringType),
        ignoreNullability = true))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<string>, got ${child.dataType.sql}")
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  // never null: the HOF's outer transform runs over sequence(0, k-1),
  // so a null INPUT array still yields an array (of k null slots)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_md5_minhash"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    HashKernels2.md5MinhashHex(child.eval(input).asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val c = child.genCode(ctx)
    val out = ctx.freshName("mhsig")
    val javaType =
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        .javaType(dataType)
    ev.copy(
      code = code"""
        |${c.code}
        |$javaType $out = graft.functions.HashKernels2.md5MinhashHex(
        |  ${c.isNull} ? null : ${c.value}, $k);
        |""".stripMargin,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral,
      value = org.apache.spark.sql.catalyst.expressions.codegen.JavaCode
        .variable(out, dataType))
  }

  override protected def withNewChildInternal(newChild: Expression): Md5MinhashExpr =
    copy(child = newChild)
}

/** gram_bucket_wsum(toks: array<string>) → double: the d38 quality
  * classifier's weighted gram-bucket fold over the uni+bigram walk —
  * see [[HashKernels2.qcGramWsum]] for the bit-identity argument
  * against the interpreted `aggregate(grams, ...)` HOF it replaces
  * (d38/m08/m09/s13/s46 all ride this fold; VERDICT r21 next 3's
  * family). The weight table is a bounded driver-side constant
  * carried by the expression (the SignLshExpr pattern). */
final case class QcWsumExpr(child: Expression, weights: Array[Double],
    buckets: Int) extends UnaryExpression {
  require(buckets > 0 && weights.length == buckets,
    s"weights spans ${weights.length} buckets, expected $buckets")
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (DataType.equalsStructurally(child.dataType, ArrayType(StringType),
        ignoreNullability = true))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<string>, got ${child.dataType.sql}")
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def nullable: Boolean = true // null array OR null element
  override def prettyName: String = "graft_gram_bucket_wsum"

  override protected def nullSafeEval(input: Any): Any =
    HashKernels2.qcGramWsum(input.asInstanceOf[ArrayData], weights, buckets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("qcWeights", weights, "double[]")
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("wsum")
      s"""java.lang.Double $tmp = graft.functions.HashKernels2.qcGramWsum($c, $wRef, $buckets);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp.doubleValue(); }
         |""".stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): QcWsumExpr =
    copy(child = newChild)
}

/** Shared strict type check for kernels whose input contract is the
  * null-free normTokens shape: a nullable-element array fails ANALYSIS
  * loudly instead of risking a silent divergence from the HOF's
  * null-element semantics (which these kernels do not reproduce). */
private[functions] trait NullFreeTokensExpr extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (DataType.equalsStructurally(child.dataType,
        ArrayType(StringType, containsNull = false),
        ignoreNullability = false))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<string> with null-free elements " +
        s"(the normTokens shape), got ${child.dataType.sql}")
}

/** bloom_hits(grams: array<string>) → bigint: count of grams whose k
  * md5-prefix positions are ALL set in the carried bitmap — see
  * [[HashKernels2.bloomHits]] (the d57/s23 screen fold). The bitmap is
  * a bounded driver-side constant (the SignLshExpr pattern). */
final case class BloomHitsExpr(child: Expression, bits: Array[Long],
    k: Int, hexDigits: Int) extends UnaryExpression {
  require(k >= 1 && k <= 64 && hexDigits >= 1 && hexDigits <= 15,
    s"bad k=$k hexDigits=$hexDigits")
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (DataType.equalsStructurally(child.dataType, ArrayType(StringType),
        ignoreNullability = true))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<string>, got ${child.dataType.sql}")
  override def dataType: DataType = LongType
  override def nullable: Boolean = true // null array OR null gram
  override def prettyName: String = "graft_bloom_hits"

  override protected def nullSafeEval(input: Any): Any =
    HashKernels2.bloomHits(input.asInstanceOf[ArrayData], bits, k, hexDigits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bRef = ctx.addReferenceObj("bloomBits", bits, "long[]")
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("bh")
      s"""java.lang.Long $tmp = graft.functions.HashKernels2.bloomHits($c, $bRef, $k, $hexDigits);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp.longValue(); }
         |""".stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): BloomHitsExpr =
    copy(child = newChild)
}

/** bigram_lm_score(toks: array<string> not null) → bigint micro-nats —
  * see [[HashKernels2.bigramLmScore]] (the d44/s16 perplexity fold).
  * lnc/lnd are bounded driver-side constants. */
final case class BigramLmScoreExpr(child: Expression, lnc: Array[Long],
    lnd: Array[Long]) extends NullFreeTokensExpr {
  require(lnc.nonEmpty && lnc.length == lnd.length,
    s"lnc/lnd must span the same bucket space, got ${lnc.length}/${lnd.length}")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_bigram_lm_score"

  override protected def nullSafeEval(input: Any): Any =
    HashKernels2.bigramLmScore(input.asInstanceOf[ArrayData], lnc, lnd,
      lnc.length)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("lmLnc", lnc, "long[]")
    val dRef = ctx.addReferenceObj("lmLnd", lnd, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashKernels2.bigramLmScore($c, $cRef, $dRef, ${lnc.length})")
  }

  override protected def withNewChildInternal(newChild: Expression): BigramLmScoreExpr =
    copy(child = newChild)
}

/** tok_len_sum(toks: array<string> not null) → int: Σ length(t) — see
  * [[HashKernels2.tokLenSum]] (the d03/d09/m09 avg-token-length fold). */
final case class TokLenSumExpr(child: Expression) extends NullFreeTokensExpr {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_tok_len_sum"

  override protected def nullSafeEval(input: Any): Any =
    HashKernels2.tokLenSum(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashKernels2.tokLenSum($c)")

  override protected def withNewChildInternal(newChild: Expression): TokLenSumExpr =
    copy(child = newChild)
}

/** dec2(d: double) → decimal(18,2): bit-identical to
  * `cast(d AS DECIMAL(18,2))` — see [[HashKernels2.dec2]] (the r22
  * money-fold cast diet). Nullable: NaN/±Inf yield NULL exactly as the
  * ANSI cast does. */
final case class Dec2Expr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == DoubleType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs double, got ${child.dataType.sql}")
  override def dataType: DataType = DecimalType(18, 2)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dec2"

  override protected def nullSafeEval(input: Any): Any =
    HashKernels2.dec2(input.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.functions.HashKernels2.dec2($c);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Dec2Expr =
    copy(child = newChild)
}

/** block_md5(payload: binary) → array<struct<h: string, blen: bigint>>
  * — see [[HashKernels2.blockMd5]] (the x06/x08/s25 block-cutting
  * front). */
final case class BlockMd5Expr(child: Expression, blockBytes: Int)
    extends UnaryExpression {
  require(blockBytes >= 1 && blockBytes <= (1 << 20), s"bad blockBytes=$blockBytes")
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs binary, got ${child.dataType.sql}")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("h", StringType, nullable = false),
    StructField("blen", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_block_md5"

  override protected def nullSafeEval(input: Any): Any =
    HashKernels2.blockMd5(input.asInstanceOf[Array[Byte]], blockBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashKernels2.blockMd5($c, $blockBytes)")

  override protected def withNewChildInternal(newChild: Expression): BlockMd5Expr =
    copy(child = newChild)
}

/** bm25_sm(tf: array<int>, dl: bigint, q: array<struct<_1: int,
  * _2: bigint>>) → bigint — see [[HashKernels2.bm25Sm]] (the d51/s17
  * BM25-screen fold); nd/tt are corpus constants carried by the
  * expression. */
final case class Bm25SmExpr(first: Expression, second: Expression,
    third: Expression, nd: Long, tt: Long) extends TernaryExpression {
  require(tt > 0 && nd > 0, s"bad nd=$nd tt=$tt")
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val qt = ArrayType(StructType(Seq(
      StructField("_1", IntegerType), StructField("_2", LongType))))
    if (DataType.equalsStructurally(first.dataType, ArrayType(IntegerType),
        ignoreNullability = true) &&
      second.dataType == LongType &&
      DataType.equalsStructurally(third.dataType, qt,
        ignoreNullability = true))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs (array<int>, bigint, array<struct<int,bigint>>), " +
        s"got (${first.dataType.sql}, ${second.dataType.sql}, ${third.dataType.sql})")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_bm25_sm"

  override protected def nullSafeEval(tf: Any, dl: Any, q: Any): Any =
    HashKernels2.bm25Sm(tf.asInstanceOf[ArrayData],
      dl.asInstanceOf[Long], q.asInstanceOf[ArrayData], nd, tt)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (tf, dl, q) =>
      s"graft.functions.HashKernels2.bm25Sm($tf, $dl, $q, ${nd}L, ${tt}L)")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Bm25SmExpr =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** count_in(toks: array<string> not null) → int — see
  * [[HashKernels2.countIn]] (the d03/m09 stopword-count fold). The
  * vocabulary is a bounded driver-side constant (TermCountsExpr's
  * index pattern). */
final case class CountInExpr(child: Expression, vocab: Seq[String])
    extends NullFreeTokensExpr {
  require(vocab.nonEmpty && vocab.size <= (1 << 20),
    s"vocab must be non-empty and bounded, got ${vocab.size}")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_count_in"

  @transient private lazy val set: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](vocab.size * 2)
    vocab.foreach(t => s.add(UTF8String.fromString(t)))
    s
  }

  override protected def nullSafeEval(input: Any): Any =
    HashKernels2.countIn(input.asInstanceOf[ArrayData], set)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sRef = ctx.addReferenceObj("countInSet", set,
      "java.util.HashSet<org.apache.spark.unsafe.types.UTF8String>")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashKernels2.countIn($c, $sRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): CountInExpr =
    copy(child = newChild)
}

/** md5_prefix_grams(toks: array<string> not null, l, hexDigits) →
  * array<bigint> — see [[HashKernels2.md5PrefixGrams]] (the d61/d62/s27
  * KMV gram-hash front). Null when fewer than l tokens (callers filter
  * size(toks) >= l, like the gramHashes sites). */
final case class Md5PrefixGramsExpr(child: Expression, l: Int,
    hexDigits: Int) extends NullFreeTokensExpr {
  require(l >= 1 && l <= 1024 && hexDigits >= 1 && hexDigits <= 15,
    s"bad l=$l hexDigits=$hexDigits")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true // fewer than l tokens -> null
  override def prettyName: String = "graft_md5_prefix_grams"

  override protected def nullSafeEval(input: Any): Any = {
    val h = HashKernels2.md5PrefixGrams(input.asInstanceOf[ArrayData], l,
      hexDigits)
    if (h == null) null else new GenericArrayData(h)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("mpg")
      s"""long[] $tmp = graft.functions.HashKernels2.md5PrefixGrams($c, $l, $hexDigits);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($tmp); }
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Md5PrefixGramsExpr =
    copy(child = newChild)
}

/** md5_minmax(toks: array<string> not null, n) →
  * struct<mn: string, mx: string> — see [[HashKernels2.md5MinMax]]
  * (d12's fingerprint fold). Null when fewer than n tokens (callers
  * filter size(toks) >= n). Consumers that extract BOTH fields should
  * wrap the call in `opaque` so CollapseProject cannot duplicate the
  * fold into each extraction. */
final case class Md5MinMaxExpr(child: Expression, n: Int)
    extends NullFreeTokensExpr {
  require(n >= 1 && n <= 1024, s"bad n=$n")
  override def dataType: DataType = StructType(Seq(
    StructField("mn", StringType, nullable = false),
    StructField("mx", StringType, nullable = false)))
  override def nullable: Boolean = true // fewer than n tokens -> null
  override def prettyName: String = "graft_md5_minmax"

  override protected def nullSafeEval(input: Any): Any =
    HashKernels2.md5MinMax(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("mmx")
      s"""org.apache.spark.sql.catalyst.InternalRow $tmp =
         |  graft.functions.HashKernels2.md5MinMax($c, $n);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp; }
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Md5MinMaxExpr =
    copy(child = newChild)
}

/** gram_distinct(toks: array<string> not null, l) → int — see
  * [[HashKernels2.gramDistinctCount]] (d13's repetition-ratio fold;
  * EXACT, collision-checked by token compare). */
final case class GramDistinctCountExpr(child: Expression, l: Int)
    extends NullFreeTokensExpr {
  require(l >= 1 && l <= 1024, s"bad l=$l")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_gram_distinct"

  override protected def nullSafeEval(input: Any): Any =
    HashKernels2.gramDistinctCount(input.asInstanceOf[ArrayData], l)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashKernels2.gramDistinctCount($c, $l)")

  override protected def withNewChildInternal(newChild: Expression): GramDistinctCountExpr =
    copy(child = newChild)
}

/** sign_lsh(v: array<double>) → array<bigint> band codes; the planes
  * matrix is a driver-side constant carried by the expression (the C3
  * broadcast-operand pattern: small, replicated, never shuffled).
  */
final case class SignLshExpr(child: Expression, planes: Array[Double],
    dim: Int, bitsPerBand: Int) extends UnaryExpression {
  require(planes.length % dim == 0 &&
    (planes.length / dim) % bitsPerBand == 0, "bad planes/dim/bits shape")
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (DataType.equalsStructurally(child.dataType,
        ArrayType(org.apache.spark.sql.types.DoubleType),
        ignoreNullability = true))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<double>, got ${child.dataType.sql}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_sign_lsh"

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(HashKernels2.signLsh(
      input.asInstanceOf[ArrayData], planes, dim, bitsPerBand))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.HashKernels2.signLsh($c, $planesRef, $dim, $bitsPerBand))")
  }

  override protected def withNewChildInternal(newChild: Expression): SignLshExpr =
    copy(child = newChild)
}

object VecKernels {
  /** a·b, left fold in index order — value-identical to the HOF form
    * `aggregate(zip_with(a, b, _ * _), 0.0, _ + _)` on equal-length
    * NULL-FREE double arrays (same IEEE op sequence, so the same bits
    * — the cross-engine-oracle requirement). Fails fast on a length
    * mismatch or a null element, both of which the HOF chain would
    * instead swallow to NULL: every caller compares co-schema'd
    * vectors, where either is a data bug worth a loud error — and a
    * silent primitive read would score a null element as 0.0, quietly
    * diverging from the documented HOF equivalence (ADVICE r10).
    * `checkNulls` is baked in at codegen from the static element
    * nullability, so provably null-free inputs pay nothing. */
  def dot(a: ArrayData, b: ArrayData, checkNulls: Boolean): Double = {
    val n = a.numElements()
    require(b.numElements() == n,
      s"dot over mismatched lengths: $n vs ${b.numElements()}")
    var s = 0.0
    var i = 0
    while (i < n) {
      if (checkNulls && (a.isNullAt(i) || b.isNullAt(i)))
        throw new IllegalArgumentException(
          s"dot over a null element at index $i: vector columns must be null-free")
      s += a.getDouble(i) * b.getDouble(i); i += 1
    }
    s
  }

  /** cosine(a, b) = a·b / (√(a·a)·√(b·b)) — the three dots are
    * separate index-order folds fused into one pass (per-sum order is
    * unchanged, so every partial is bit-identical to three `dot`
    * calls), then the identical sqrt/multiply/divide tail as the HOF
    * rendering and the DuckDB oracle. */
  def cosine(a: ArrayData, b: ArrayData, checkNulls: Boolean): Double = {
    val n = a.numElements()
    require(b.numElements() == n,
      s"cosine over mismatched lengths: $n vs ${b.numElements()}")
    var ab = 0.0
    var aa = 0.0
    var bb = 0.0
    var i = 0
    while (i < n) {
      if (checkNulls && (a.isNullAt(i) || b.isNullAt(i)))
        throw new IllegalArgumentException(
          s"cosine over a null element at index $i: vector columns must be null-free")
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      ab += x * y
      aa += x * x
      bb += y * y
      i += 1
    }
    ab / (java.lang.Math.sqrt(aa) * java.lang.Math.sqrt(bb))
  }

  /** Nearest centroid (N5+N6) of one row through the shared exact
    * search — value-identical to the HOF
    * `array_min(array(struct(sqdist, cid)...))` form: per-dim left-fold
    * sums in index order, lexicographic (dist2, cid) min. The search
    * starts from +∞, so a row whose every distance is NaN or +∞ (a NaN
    * or infinite coordinate) yields (+∞, 0). `p` (length d) and `out`
    * (length 1) are the caller's scratch, reused across rows.
    */
  def nearest(v: ArrayData, nc: graft.ml.NearestCentroid,
      p: Array[Double], out: Array[Double]): org.apache.spark.sql.catalyst.InternalRow = {
    nc.load(v, p)
    val cid = nc.nearest(p, Double.PositiveInfinity, out)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](out(0), cid))
  }

  def nearest(v: ArrayData, nc: graft.ml.NearestCentroid): org.apache.spark.sql.catalyst.InternalRow =
    nearest(v, nc, new Array[Double](nc.d), new Array[Double](1))
}

/** nearest_centroid(v: array<double>) → struct<dist2: double, cid: int>.
  * The centroid matrix is a driver-side constant on the expression (the
  * reference's broadcast-centroids J3/C3 pattern), held as one
  * `NearestCentroid` search built on the driver; one call per row
  * replaces k separate fold expressions, so k=1000+ works without
  * expression-tree blowup.
  */
final case class NearestCentroidExpr(child: Expression,
    centroids: graft.ml.NearestCentroid) extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (DataType.equalsStructurally(child.dataType,
        ArrayType(org.apache.spark.sql.types.DoubleType),
        ignoreNullability = true))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<double>, got ${child.dataType.sql}")
  override def dataType: DataType = org.apache.spark.sql.types.StructType(
    Seq(org.apache.spark.sql.types.StructField("dist2",
        org.apache.spark.sql.types.DoubleType, nullable = false),
      org.apache.spark.sql.types.StructField("cid",
        org.apache.spark.sql.types.IntegerType, nullable = false)))
  override def prettyName: String = "graft_nearest_centroid"

  override protected def nullSafeEval(input: Any): Any =
    VecKernels.nearest(input.asInstanceOf[ArrayData], centroids)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("centroids", centroids,
      "graft.ml.NearestCentroid")
    val point = ctx.addMutableState("double[]", "ncPoint",
      v => s"$v = new double[${centroids.d}];")
    val dist = ctx.addMutableState("double[]", "ncDist",
      v => s"$v = new double[1];")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.VecKernels.nearest($c, $centsRef, $point, $dist)")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroidExpr =
    copy(child = newChild)
}

/** Shared type check for the binary vector kernels. */
private[functions] trait VecBinaryExpr extends BinaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val want = ArrayType(org.apache.spark.sql.types.DoubleType)
    if (Seq(left, right).forall(c => DataType.equalsStructurally(
        c.dataType, want, ignoreNullability = true)))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs (array<double>, array<double>), got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")
  }
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  /** Element-nullability of the inputs, resolved at plan time: parquet
    * array columns are element-nullable by schema even when the data
    * never holds a null, so the kernels take a baked-in flag — a null
    * element then fails LOUDLY instead of silently reading as 0.0
    * (which would diverge from the HOF form these kernels are
    * documented bit-identical to: it yields NULL — ADVICE r10).
    * Provably null-free inputs skip the per-element check entirely.
    * lazy val, not def (ADVICE r11): children are fixed once the
    * expression is constructed (tree rewrites copy() a new node), so
    * the interpreted path must not re-derive this per row. */
  protected lazy val elementsNullable: Boolean = Seq(left, right).exists(
    _.dataType match {
      case ArrayType(_, containsNull) => containsNull
      case _ => true
    })
}

/** graft_dot(a, b) → double: index-order a·b in one codegen'd loop —
  * replaces the interpreted `aggregate(zip_with(...))` HOF chain
  * (which allocates a zipped array per row and stays outside
  * WholeStageCodegen) on the ANN/dedup scoring hot paths. Value- and
  * bit-identical to the HOF form (VecExprsSpec). */
final case class DotExpr(left: Expression, right: Expression)
    extends VecBinaryExpr {
  override def prettyName: String = "graft_dot"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      elementsNullable)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VecKernels.dot($a, $b, $elementsNullable)")
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DotExpr = copy(left = newLeft, right = newRight)
}

/** graft_cosine(a, b) → double: the three index-order dots fused into
  * one pass + the identical sqrt/divide tail as the HOF rendering and
  * the DuckDB oracle. One codegen'd loop per scored pair instead of
  * three interpreted HOF folds with six array allocations. */
final case class CosineExpr(left: Expression, right: Expression)
    extends VecBinaryExpr {
  override def prettyName: String = "graft_cosine"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      elementsNullable)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VecKernels.cosine($a, $b, $elementsNullable)")
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): CosineExpr = copy(left = newLeft, right = newRight)
}

/** graft_opaque(e) → e: value-identity wrapper that REPORTS
  * non-determinism, the guide-sanctioned barrier against the
  * optimizer duplicating an expensive projection (guide §4.4 — the
  * filter-on-derived-column rewrite substitutes the alias's whole
  * expression tree into the pushed-down Filter, so a 32-cosine screen
  * column gets evaluated twice per row: once below the filter, once
  * in the surviving Project). Wrapping the alias blocks
  * PushPredicateThroughNonJoin's substitution and CollapseProject's
  * inlining; eval and codegen delegate to the child unchanged, so the
  * value stream is bit-identical — only the plan shape moves. Use it
  * on expensive aliases that a downstream filter consumes; it also
  * blocks legitimate reorderings past the projection, so don't apply
  * it blanket (the guide's caveat).
  *
  * SHARP EDGES (ADVICE r21) — reporting non-determinism means:
  *  - **operator restriction**: Catalyst only admits non-deterministic
  *    expressions in Project / Filter / certain plan-local operators.
  *    Feeding an opaque-wrapped column into a JOIN condition, SORT
  *    key, GROUPING key or window partition key throws
  *    AnalysisException at analysis time (this is why the bowSig
  *    groupBy keys and every join key stay UN-wrapped — do not "fix"
  *    such an error by wrapping deeper; drop the wrapper instead);
  *  - **reuse cost**: exchange/subquery reuse cannot fire across two
  *    occurrences of the same opaque-wrapped subtree (non-deterministic
  *    trees never canonicalize equal), so a wrapped alias consumed by
  *    two join branches re-executes per branch where the bare form
  *    would share one stage;
  *  - **pushdown cost**: conjuncts NOT referencing the wrapped alias
  *    still push (PushPredicateThroughNonJoin splits conjunctions),
  *    but any predicate ON the alias stays above the projection — the
  *    intended effect, priced in.
  */
final case class OpaqueExpr(child: Expression) extends UnaryExpression {
  override def prettyName: String = "graft_opaque"
  override lazy val deterministic: Boolean = false
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    child.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }
  override protected def withNewChildInternal(newChild: Expression): OpaqueExpr =
    copy(child = newChild)
}

object TextKernels {
  import org.apache.spark.unsafe.types.UTF8String

  private def isWs(b: Byte): Boolean =
    b == ' '.toByte || b == '\t'.toByte || b == '\n'.toByte ||
      b == 0x0B.toByte || b == '\f'.toByte || b == '\r'.toByte

  /** Normalize-and-tokenize in one pass, value-identical to
    * `split(lower(trim(regexp_replace(s, "\\s+", " "))), " ")`:
    * tokens are maximal runs not containing the regex \s class
    * ([ \t\n\x0B\f\r]), lowercased with Spark's own UTF8String
    * lowercasing; an all-whitespace/empty input yields [""] (split of
    * an empty string), matching the HOF chain's edge case. One scan of
    * the bytes instead of three regex/string passes per row.
    *
    * Multi-byte UTF-8 is safe to scan bytewise: continuation bytes
    * have the high bit set and can never equal the ASCII whitespace
    * byte values.
    */
  def normTokens(s: UTF8String): GenericArrayData = {
    val lower = s.toLowerCase
    val bytes = lower.getBytes // materialized copy, offset 0
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var i = 0
    val n = bytes.length
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && !isWs(bytes(i))) i += 1
        out += UTF8String.fromBytes(bytes, start, i - start)
      }
    }
    if (out.isEmpty) out += UTF8String.EMPTY_UTF8
    new GenericArrayData(out.toArray)
  }
}

/** norm_tokens(text: string) → array<string>. */
final case class NormTokensExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs string, got ${child.dataType.sql}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_norm_tokens"

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.normTokens(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextKernels.normTokens($c)")

  override protected def withNewChildInternal(newChild: Expression): NormTokensExpr =
    copy(child = newChild)
}

/** term_counts(tokens: array<string>) → array<int>: occurrence count
  * of each FIXED vocabulary term in the token array, aligned to the
  * vocabulary's order. The one-pass replacement for per-term
  * `size(filter(tokens, x -> x = t))` scans: the HOF form costs
  * O(tokens · |vocab|) interpreted lambda calls per row (it made the
  * s17 streaming scorer the suite's slowest query at 15.7 s), this
  * kernel costs O(tokens) hash probes in straight-line Java inside
  * WholeStageCodegen. Value-identical to the HOF form: the probe is
  * UTF8String binary equality, the same comparison `x = t` compiles
  * to.
  */
final case class TermCountsExpr(child: Expression, vocab: Seq[String])
    extends UnaryExpression {
  require(vocab.nonEmpty && vocab.size <= (1 << 20),
    s"vocab must be non-empty and bounded, got ${vocab.size}")
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (DataType.equalsStructurally(child.dataType, ArrayType(StringType), ignoreNullability = true))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<string>, got ${child.dataType.sql}")
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "graft_term_counts"

  // built once per task from the vocab (UTF8String keys hash/compare
  // on bytes, matching the engine's string equality); shipped to
  // executors via the codegen references array
  @transient private lazy val index: java.util.HashMap[
      org.apache.spark.unsafe.types.UTF8String, Integer] = {
    val m = new java.util.HashMap[
      org.apache.spark.unsafe.types.UTF8String, Integer](vocab.size * 2)
    vocab.zipWithIndex.foreach { case (t, i) =>
      m.put(org.apache.spark.unsafe.types.UTF8String.fromString(t),
        Integer.valueOf(i))
    }
    m
  }

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(HashKernels.termCounts(
      input.asInstanceOf[ArrayData], index, vocab.size))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idxRef = ctx.addReferenceObj("vocabIndex", index,
      "java.util.HashMap")
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.HashKernels.termCounts($c, $idxRef, ${vocab.size}))")
  }

  override protected def withNewChildInternal(newChild: Expression): TermCountsExpr =
    copy(child = newChild)
}

/** Per-doc n-gram repetition statistics for the Gopher rule battery
  * (d43): for each window width n, the max single-gram occurrence
  * count, the total occurrences of repeated grams, and the window
  * count — computed row-locally in one kernel call.
  *
  * The explode form shuffled ~Σ n (= 24×) token-count (doc, n, gram)
  * rows through TWO hash aggregations per scored corpus; this kernel
  * is a map-only projection (zero Exchange, zero Generate — pinned in
  * GopherAndPerplexitySpec), per-row memory bounded by document length.
  * Exactness: grams are compared as TOKEN SEQUENCES via per-doc
  * interned ids — identical to the concat_ws(' ') string equality the
  * explode form grouped on, since whitespace-split tokens cannot
  * contain the separator (no hashing shortcut, no collision risk).
  */
object GopherKernels {
  /** int[]-keyed map entry: exact sequence equality, cached hash. */
  private final class Key(val ids: Array[Int], val hash: Int) {
    override def hashCode(): Int = hash
    override def equals(o: Any): Boolean = o match {
      case k: Key => java.util.Arrays.equals(ids, k.ids)
      case _ => false
    }
  }

  /** Returns structs (n, max_c, dup_occ, tot) in `ns` order. */
  def gopherStats(toks: ArrayData, ns: Array[Int]): GenericArrayData = {
    val len = toks.numElements()
    val ids = new Array[Int](len)
    val intern = new java.util.HashMap[UTF8String, Integer](len * 2)
    var i = 0
    while (i < len) {
      val t = toks.getUTF8String(i)
      var id = intern.get(t)
      if (id == null) { id = Integer.valueOf(intern.size); intern.put(t, id) }
      ids(i) = id.intValue()
      i += 1
    }
    val out = new Array[Any](ns.length)
    var k = 0
    while (k < ns.length) {
      val n = ns(k)
      val windows = len - n + 1
      var maxC = 0L
      var dupOcc = 0L
      if (windows > 0) {
        val counts = new java.util.HashMap[Key, Array[Long]](windows * 2)
        var p = 0
        while (p < windows) {
          val w = java.util.Arrays.copyOfRange(ids, p, p + n)
          val key = new Key(w, java.util.Arrays.hashCode(w))
          val slot = counts.get(key)
          if (slot == null) counts.put(key, Array(1L)) else slot(0) += 1L
          p += 1
        }
        val it = counts.values().iterator()
        while (it.hasNext) {
          val c = it.next()(0)
          if (c > maxC) maxC = c
          if (c > 1L) dupOcc += c
        }
      }
      out(k) = new GenericInternalRow(Array[Any](
        n, maxC, dupOcc, math.max(windows, 0).toLong))
      k += 1
    }
    new GenericArrayData(out)
  }
}

/** gopher_stats(toks: array<string>) →
  * array<struct<n int, max_c bigint, dup_occ bigint, tot bigint>>,
  * one row per window width in `ns` order (see [[GopherKernels]]). */
final case class GopherStatsExpr(child: Expression, ns: Seq[Int])
    extends UnaryExpression {
  require(ns.nonEmpty && ns.forall(n => n >= 1 && n <= 64), s"bad ns=$ns")
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (DataType.equalsStructurally(child.dataType, ArrayType(StringType), ignoreNullability = true))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<string>, got ${child.dataType.sql}")
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("n", IntegerType, nullable = false),
      StructField("max_c", LongType, nullable = false),
      StructField("dup_occ", LongType, nullable = false),
      StructField("tot", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_gopher_stats"

  @transient private lazy val nsArr: Array[Int] = ns.toArray

  override protected def nullSafeEval(input: Any): Any =
    GopherKernels.gopherStats(input.asInstanceOf[ArrayData], nsArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val nsRef = ctx.addReferenceObj("gopherNs", nsArr, "int[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.GopherKernels.gopherStats($c, $nsRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): GopherStatsExpr =
    copy(child = newChild)
}

/** Column-API facade for the native kernels. */
object GraftFunctions {
  def simhash64(tokens: Column): Column =
    column(SimHash64Expr(expression(tokens)))
  def minhashSignature(shingles: Column, k: Int): Column =
    column(MinHashSigExpr(expression(shingles), k))
  def minhashShingles(tokens: Column, n: Int, k: Int): Column =
    column(MinHashShinglesExpr(expression(tokens), n, k))
  def gramHashes(tokens: Column, l: Int): Column =
    column(GramHashesExpr(expression(tokens), l))
  def md5Prefix(bin: Column, hexDigits: Int): Column =
    column(Md5PrefixExpr(expression(bin), hexDigits))
  def md5SortKey(bin: Column): Column =
    column(Md5SortKeyExpr(expression(bin)))
  def md5Minhash(sh: Column, k: Int): Column =
    column(Md5MinhashExpr(expression(sh), k))
  def gramBucketWsum(toks: Column, weights: Array[Double], buckets: Int): Column =
    column(QcWsumExpr(expression(toks), weights, buckets))
  def bloomHits(grams: Column, bits: Array[Long], k: Int, hexDigits: Int): Column =
    column(BloomHitsExpr(expression(grams), bits, k, hexDigits))
  def bigramLmScore(toks: Column, lnc: Array[Long], lnd: Array[Long]): Column =
    column(BigramLmScoreExpr(expression(toks), lnc, lnd))
  def tokLenSum(toks: Column): Column =
    column(TokLenSumExpr(expression(toks)))
  /** Bit-identical `cast(d AS DECIMAL(18,2))` without the toString
    * detour in the common range (the money-fold discipline's cast). */
  def dec2(d: Column): Column =
    column(Dec2Expr(expression(d)))
  def countIn(toks: Column, vocab: Seq[String]): Column =
    column(CountInExpr(expression(toks), vocab))
  def md5PrefixGrams(toks: Column, l: Int, hexDigits: Int): Column =
    column(Md5PrefixGramsExpr(expression(toks), l, hexDigits))
  def md5MinMax(toks: Column, n: Int): Column =
    column(Md5MinMaxExpr(expression(toks), n))
  def gramDistinctCount(toks: Column, l: Int): Column =
    column(GramDistinctCountExpr(expression(toks), l))
  def blockMd5(payload: Column, blockBytes: Int): Column =
    column(BlockMd5Expr(expression(payload), blockBytes))
  def bm25Sm(tf: Column, dl: Column, q: Column, nd: Long, tt: Long): Column =
    column(Bm25SmExpr(expression(tf), expression(dl), expression(q), nd, tt))
  def signLsh(v: Column, planes: Array[Array[Double]], bitsPerBand: Int): Column = {
    val dim = planes.head.length
    column(SignLshExpr(expression(v), planes.flatten, dim, bitsPerBand))
  }
  def nearestCentroid(v: Column, centroids: Array[Array[Double]]): Column =
    column(NearestCentroidExpr(expression(v), graft.ml.NearestCentroid(centroids)))
  def normTokens(text: Column): Column =
    column(NormTokensExpr(expression(text)))
  def termCounts(tokens: Column, vocab: Seq[String]): Column =
    column(TermCountsExpr(expression(tokens), vocab))
  def dot(a: Column, b: Column): Column =
    column(DotExpr(expression(a), expression(b)))
  def cosine(a: Column, b: Column): Column =
    column(CosineExpr(expression(a), expression(b)))
  def opaque(c: Column): Column =
    column(OpaqueExpr(expression(c)))
  /** Bounded top-k aggregate: k smallest (ns, vid) pairs, ascending. */
  def boundedTopK(ns: Column, vid: Column, k: Int): Column =
    column(BoundedTopKAgg(expression(ns), expression(vid), k)
      .toAggregateExpression())
  /** KMV bottom-k: the k smallest DISTINCT bigint values, ascending. */
  def minKDistinct(v: Column, k: Int): Column =
    column(MinKDistinctAgg(expression(v), k).toAggregateExpression())
  /** HLL registers over per-doc L-gram walks: 256-byte mergeable state. */
  def hllRegs(toks: Column, l: Int): Column =
    column(HllRegsAgg(expression(toks), l).toAggregateExpression())
  /** Exact decimal PCA summary: upper-triangle Gram + mean registers. */
  def gramRegisters(v: Column, dim: Int): Column =
    column(GramRegisterAgg(expression(v), dim).toAggregateExpression())
  /** Per-doc Gopher repetition statistics, one struct per width. */
  def gopherStats(toks: Column, ns: Seq[Int]): Column =
    column(GopherStatsExpr(expression(toks), ns))
}
