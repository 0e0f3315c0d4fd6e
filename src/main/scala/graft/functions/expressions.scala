package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the per-row hot paths of dedup and
  * similarity search. These stay inside whole-stage codegen (real
  * `doGenCode`, not `CodegenFallback`) — at 100 TB the per-row cost of a
  * deserializing Scala UDF dominates, so the inner loops are static JVM
  * methods invoked straight from generated code.
  */
object VecOps {

  /** Dot product of two float vectors stored as `array<float>`. */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    acc
  }

  def norm(a: ArrayData): Double = {
    var acc = 0.0
    var i = 0
    val n = a.numElements()
    while (i < n) { val v = a.getFloat(i).toDouble; acc += v * v; i += 1 }
    math.sqrt(acc)
  }

  /** Cosine similarity; 0.0 when either vector has zero norm. */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble; val y = b.getFloat(i).toDouble
      d += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else d / denom
  }

  /** Dot product over `array<double>` inputs (unit-vector cosine). */
  def dotDouble(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }

  /** Cosine over `array<double>` inputs (the float variant above serves
    * embedding columns; this one serves derived weight vectors, e.g.
    * TF-IDF). */
  def cosineDouble(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      d += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else d / denom
  }

  /** Sign-bit signature of a vector against `nBits` deterministic,
    * seed-derived hyperplanes (random-hyperplane LSH for cosine space).
    * Bit i is set iff `dot(v, H_i) >= 0` where `H_i` entries are derived
    * from splitmix64(seed, i, j). The coefficient table is memoised per
    * (seed, nBits, dim) — recomputing splitmix per element would dominate
    * the scan at scale. */
  private val hyperplaneCache =
    new java.util.concurrent.ConcurrentHashMap[(Long, Int, Int), Array[Double]]()

  def hyperplaneTable(seed: Long, nBits: Int, dim: Int): Array[Double] =
    hyperplaneCache.computeIfAbsent((seed, nBits, dim), { key =>
      val (s, nb, d) = key
      val t = new Array[Double](nb * d)
      var i = 0
      while (i < nb) {
        var j = 0
        while (j < d) {
          val h = splitmix64(s + i.toLong * 0x9E3779B97F4A7C15L + j.toLong)
          // >>> 12 (logical, 52 bits kept): the entry must be uniform on
          // [-1,1) with MEAN ZERO. The previous `(h >> 11)` kept 53 bits
          // WITH sign over a 2^52 divisor — entries on [-3,1), mean −1 —
          // so every "independent" hyperplane shared a large common −1⃗
          // component (measured pairwise plane |cos| ≈ 0.45 instead of
          // the ~0.09 of true 64-dim random planes). Correlated planes
          // collapse an isotropic corpus into a few giant buckets
          // (maxOcc 167/2000 at 10 bits vs 10 unbiased) and the
          // in-bucket quadratic verification melts down at scale.
          t(i * d + j) = (h >>> 12).toDouble / (1L << 52).toDouble * 2.0 - 1.0
          j += 1
        }
        i += 1
      }
      t
    })

  def hyperplaneBits(v: ArrayData, nBits: Int, seed: Long): Long = {
    var bits = 0L
    val dim = v.numElements()
    val table = hyperplaneTable(seed, nBits, dim)
    var i = 0
    while (i < nBits) {
      var acc = 0.0
      val off = i * dim
      var j = 0
      while (j < dim) { acc += v.getFloat(j).toDouble * table(off + j); j += 1 }
      if (acc >= 0.0) bits |= (1L << i)
      i += 1
    }
    bits
  }

  @inline def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
}

/** 64-bit SimHash over a token array (document fingerprint for near-dup
  * detection). Each token is hashed to 64 bits; per bit position the
  * signature accumulates +1/-1 across tokens and the final bit is the
  * accumulator's sign. Equivalent semantics to the classic Charikar
  * simhash; token hash is xxhash64-style (splitmix over bytes) — stable
  * across JVMs and Scala versions.
  */
object SimHashImpl {

  def tokenHash(s: UTF8String): Long = {
    // FNV-1a 64 over UTF-8 bytes, then splitmix finalizer: stable, fast,
    // well-mixed — avoids depending on Scala's MurmurHash3 ordering.
    val bytes = s.getBytes
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    VecOps.splitmix64(h)
  }

  /** Per-bit majority vote over 64-bit hashes — the simhash core. */
  def voteBits(hashes: Array[Long]): Long = {
    val counts = new Array[Int](64)
    var t = 0
    while (t < hashes.length) {
      val h = hashes(t)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      t += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  def compute(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    val hashes = new scala.collection.mutable.ArrayBuffer[Long](n)
    var t = 0
    while (t < n) {
      if (!tokens.isNullAt(t)) hashes += tokenHash(tokens.getUTF8String(t))
      t += 1
    }
    voteBits(hashes.toArray)
  }

  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
}

/** One-pass MinHash: k affine "permutations" over a single 31-bit base
  * hash per shingle, minimum taken per permutation. Replaces k separate
  * higher-order-function passes (interpreted per element) with one tight
  * JVM loop — the difference between O(k) interpreted array traversals
  * and one codegen'd call per row.
  *
  * Parameters match `TextFunctions.minhashSignature`'s affine family:
  * hᵢ(x) = (aᵢ·x + bᵢ) mod (2³¹−1) with aᵢ odd 20-bit, bᵢ 31-bit, over a
  * 31-bit base hash — a genuine universal-hash permutation family whose
  * products stay < 2^52 (overflow-free under ANSI mode).
  */
object MinHashImpl {
  import org.apache.spark.sql.catalyst.expressions.XXH64
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  private val coefCache =
    new java.util.concurrent.ConcurrentHashMap[(Long, Int), (Array[Long], Array[Long])]()

  def coefs(seed: Long, k: Int): (Array[Long], Array[Long]) =
    coefCache.computeIfAbsent((seed, k), { key =>
      val (s, kk) = key
      val a = new Array[Long](kk); val b = new Array[Long](kk)
      var i = 0
      while (i < kk) {
        a(i) = (VecOps.splitmix64(s + 2L * i) & 0xfffffL) | 1L
        b(i) = VecOps.splitmix64(s + 2L * i + 1) & 0x7fffffffL
        i += 1
      }
      (a, b)
    })

  def mins(shingles: ArrayData, k: Int, seed: Long): Array[Long] = {
    val (a, b) = coefs(seed, k)
    val out = Array.fill(k)(Long.MaxValue)
    val n = shingles.numElements()
    var s = 0
    while (s < n) {
      if (!shingles.isNullAt(s)) {
        val u = shingles.getUTF8String(s)
        val base = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, seed) & 0x7fffffffL
        var i = 0
        while (i < k) {
          // mod a Mersenne prime so each affine map is a PERMUTATION —
          // without the mod the map is monotone and every component
          // degenerates to the same global-min element
          val v = (base * a(i) + b(i)) % 2147483647L
          if (v < out(i)) out(i) = v
          i += 1
        }
      }
      s += 1
    }
    out
  }

  def signature(shingles: ArrayData, k: Int, seed: Long): ArrayData =
    new GenericArrayData(mins(shingles, k, seed))

  /** Fold each band's `rows` consecutive minima through splitmix into a
    * single band key — shared by the string- and hash-input entry points
    * (the two MUST stay bit-identical for signatures to be comparable). */
  def foldBands(m: Array[Long], bands: Int, rows: Int, seed: Long): ArrayData = {
    val keys = new Array[Long](bands)
    var bnd = 0
    while (bnd < bands) {
      var h = VecOps.splitmix64(seed ^ bnd.toLong)
      var r = 0
      while (r < rows) {
        h = VecOps.splitmix64(h ^ m(bnd * rows + r))
        r += 1
      }
      keys(bnd) = h
      bnd += 1
    }
    new GenericArrayData(keys)
  }

  /** LSH band keys straight from the shingle set: one minhash pass, then
    * each band's `rows` consecutive mins folded through splitmix. */
  def bandKeys(shingles: ArrayData, bands: Int, rows: Int, seed: Long): ArrayData =
    foldBands(mins(shingles, bands * rows, seed), bands, rows, seed)
}

case class MinHashSignature(child: Expression, k: Int, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    MinHashImpl.signature(input.asInstanceOf[ArrayData], k, seed)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.MinHashImpl.signature($c, $k, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
  override def prettyName: String = "minhash_signature"
}

case class MinHashBandKeys(child: Expression, bands: Int, rows: Int, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    MinHashImpl.bandKeys(input.asInstanceOf[ArrayData], bands, rows, seed)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.MinHashImpl.bandKeys($c, $bands, $rows, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): MinHashBandKeys =
    copy(child = newChild)
  override def prettyName: String = "minhash_band_keys"
}

case class SimHash64(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    SimHashImpl.compute(input.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHashImpl.compute($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
  override def prettyName: String = "simhash64"
}

/** Hyperplane signature with md5-derived ±1 signs (the cross-engine-
  * reproducible variant of [[VecOps.hyperplaneBits]] — see
  * [[graft.operators.PortableLsh]] for the SQL-equivalent formula). The
  * sign matrix is computed once per (bits, dim) and cached; per row it is
  * one multiply-add loop, codegen'd. Bit j is set iff the projection is
  * STRICTLY positive (ties → 0), matching the SQL `p > 0` form. */
object PortableVecSimhashImpl {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Double]]()

  /** THE md5 sign formula (single source of the cross-engine contract —
    * `graft.operators.PortableLsh` delegates here): ±1 from bit 0 of the
    * first 15 hex chars of `md5("j_i")`. */
  def sign(md: java.security.MessageDigest, j: Int, i: Int): Double = {
    md.reset()
    val hex = md.digest(s"${j}_${i}".getBytes("UTF-8")).map(x => f"$x%02x").mkString
    if ((java.lang.Long.parseLong(hex.take(15), 16) & 1L) == 1L) 1.0 else -1.0
  }

  def signs(bits: Int, dim: Int): Array[Double] =
    cache.computeIfAbsent((bits, dim), { key =>
      val (b, d) = key
      val out = new Array[Double](b * d)
      val md = java.security.MessageDigest.getInstance("MD5")
      var j = 0
      while (j < b) {
        var i = 0
        while (i < d) { out(j * d + i) = sign(md, j, i); i += 1 }
        j += 1
      }
      out
    })

  /** `isDouble` selects the element reader — getFloat on an
    * `array<double>` would silently reinterpret half of each slot. */
  def compute(v: ArrayData, bits: Int, isDouble: Boolean): Long = {
    val dim = v.numElements()
    val s = signs(bits, dim)
    var out = 0L
    var j = 0
    while (j < bits) {
      var acc = 0.0
      val off = j * dim
      var i = 0
      if (isDouble) while (i < dim) { acc += v.getDouble(i) * s(off + i); i += 1 }
      else while (i < dim) { acc += v.getFloat(i).toDouble * s(off + i); i += 1 }
      if (acc > 0.0) out |= (1L << j)
      j += 1
    }
    out
  }
}

/** Band keys from a packed simhash/LSH signature: band b = bits
  * [b·bandBits, (b+1)·bandBits). A single expression so the (possibly
  * expensive) signature child is evaluated ONCE per row — building the
  * array with per-band shift expressions lets CollapseProject inline the
  * child into every element (measured: the portable vector signature
  * recomputed 6× per row). */
object BandKeysImpl {
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  def compute(sh: Long, bandBits: Int, nBands: Int): ArrayData = {
    val mask = if (bandBits >= 64) -1L else (1L << bandBits) - 1
    val out = new Array[Long](nBands)
    var b = 0
    while (b < nBands) { out(b) = (sh >>> (b * bandBits)) & mask; b += 1 }
    new GenericArrayData(out)
  }
}

case class BandKeysFromSimhash(child: Expression, bandBits: Int, nBands: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    BandKeysImpl.compute(input.asInstanceOf[Long], bandBits, nBands)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.BandKeysImpl.compute($c, $bandBits, $nBands)")
  override protected def withNewChildInternal(newChild: Expression): BandKeysFromSimhash =
    copy(child = newChild)
  override def prettyName: String = "band_keys_from_simhash"
}

case class DoubleVecCosine(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    VecOps.cosineDouble(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecOps.cosineDouble($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DoubleVecCosine =
    copy(left = l, right = r)
  override def prettyName: String = "double_vec_cosine"
}

case class DoubleVecDot(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    VecOps.dotDouble(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecOps.dotDouble($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DoubleVecDot =
    copy(left = l, right = r)
  override def prettyName: String = "double_vec_dot"
}

case class PortableVecSimhash(child: Expression, bits: Int)
    extends UnaryExpression {
  private lazy val isDouble: Boolean = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case ArrayType(FloatType, _) => false
    case other => throw new IllegalArgumentException(
      s"portable_vec_simhash needs array<float> or array<double>, got $other")
  }
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    PortableVecSimhashImpl.compute(input.asInstanceOf[ArrayData], bits, isDouble)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.PortableVecSimhashImpl.compute($c, $bits, $isDouble)")
  override protected def withNewChildInternal(newChild: Expression): PortableVecSimhash =
    copy(child = newChild)
  override def prettyName: String = "portable_vec_simhash"
}

/** Nearest-portable-centroid cluster id: argmax over `j < nClusters` of
  * the md5-sign projection `Σ_i v_i·s(j)(i)` (ties → smallest j). The
  * "centroids" are the same ±1 rows as [[PortableVecSimhashImpl]] —
  * single sign source — so any engine with `md5()` recomputes the
  * assignment exactly: the cross-engine-checkable stand-in for a k-means
  * codebook in SemDeDup-style semantic dedup. Two assignments can only
  * disagree if the top two projections land within float-summation-order
  * noise of each other — vanishingly unlikely for real-valued embeddings
  * (same knife-edge argument as the signature's `p > 0` bit). */
object PortableClusterImpl {
  def compute(v: ArrayData, nClusters: Int, isDouble: Boolean): Int = {
    val dim = v.numElements()
    val s = PortableVecSimhashImpl.signs(nClusters, dim)
    var best = 0
    var bestP = Double.NegativeInfinity
    var j = 0
    while (j < nClusters) {
      var acc = 0.0
      val off = j * dim
      var i = 0
      if (isDouble) while (i < dim) { acc += v.getDouble(i) * s(off + i); i += 1 }
      else while (i < dim) { acc += v.getFloat(i).toDouble * s(off + i); i += 1 }
      if (acc > bestP) { bestP = acc; best = j }
      j += 1
    }
    best
  }
}

case class PortableClusterAssign(child: Expression, nClusters: Int)
    extends UnaryExpression {
  private lazy val isDouble: Boolean = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case ArrayType(FloatType, _) => false
    case other => throw new IllegalArgumentException(
      s"portable_cluster needs array<float> or array<double>, got $other")
  }
  override def dataType: DataType = IntegerType
  override def nullSafeEval(input: Any): Any =
    PortableClusterImpl.compute(input.asInstanceOf[ArrayData], nClusters, isDouble)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.PortableClusterImpl.compute($c, $nClusters, $isDouble)")
  override protected def withNewChildInternal(newChild: Expression): PortableClusterAssign =
    copy(child = newChild)
  override def prettyName: String = "portable_cluster"
}

/** Product-quantization kernels over the portable md5-sign codebook
  * (same single sign source as [[PortableVecSimhashImpl]], so any engine
  * with `md5()` replays codes and ADC tables exactly). Subspace `s` of
  * `m` uses sign rows `[s·k, (s+1)·k)` over the sub-dimension — distinct
  * rows per subspace, one shared formula. */
object PortablePqImpl {
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  /** Per-subspace code: argmax over `c < k` of the projection of
    * subvector `s` onto sign row `s·k + c` (ties → smallest c). */
  def codes(v: ArrayData, m: Int, k: Int, isDouble: Boolean): ArrayData = {
    val dim = v.numElements()
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val s = PortableVecSimhashImpl.signs(m * k, sub)
    val out = new Array[Int](m)
    var ss = 0
    while (ss < m) {
      var best = 0
      var bestP = Double.NegativeInfinity
      var c = 0
      while (c < k) {
        val off = (ss * k + c) * sub
        var acc = 0.0
        var i = 0
        if (isDouble) while (i < sub) { acc += v.getDouble(ss * sub + i) * s(off + i); i += 1 }
        else while (i < sub) { acc += v.getFloat(ss * sub + i).toDouble * s(off + i); i += 1 }
        if (acc > bestP) { bestP = acc; best = c }
        c += 1
      }
      out(ss) = best
      ss += 1
    }
    new GenericArrayData(out)
  }

  /** Per-query ADC lookup table, flattened `(s·k + c) → partial`: the
    * projection of query subvector `s` onto sign row `s·k + c`. Computed
    * ONCE per query (m·k·sub multiplies); scoring a code is then `m`
    * array reads instead of a `dim`-wide dot. */
  def table(v: ArrayData, m: Int, k: Int, isDouble: Boolean): ArrayData = {
    val dim = v.numElements()
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val s = PortableVecSimhashImpl.signs(m * k, sub)
    val out = new Array[Double](m * k)
    var ss = 0
    while (ss < m) {
      var c = 0
      while (c < k) {
        val off = (ss * k + c) * sub
        var acc = 0.0
        var i = 0
        if (isDouble) while (i < sub) { acc += v.getDouble(ss * sub + i) * s(off + i); i += 1 }
        else while (i < sub) { acc += v.getFloat(ss * sub + i).toDouble * s(off + i); i += 1 }
        out(ss * k + c) = acc
        c += 1
      }
      ss += 1
    }
    new GenericArrayData(out)
  }

  /** ADC score `Σ_s table[s·k + codes[s]]` with `k = |table| / |codes|`. */
  def adc(codes: ArrayData, table: ArrayData): Double = {
    val m = codes.numElements()
    val k = table.numElements() / m
    var acc = 0.0
    var ss = 0
    while (ss < m) { acc += table.getDouble(ss * k + codes.getInt(ss)); ss += 1 }
    acc
  }
}

case class PortablePqCodes(child: Expression, m: Int, k: Int)
    extends UnaryExpression {
  private lazy val isDouble: Boolean = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case ArrayType(FloatType, _) => false
    case other => throw new IllegalArgumentException(
      s"portable_pq_codes needs array<float> or array<double>, got $other")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    PortablePqImpl.codes(input.asInstanceOf[ArrayData], m, k, isDouble)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.PortablePqImpl.codes($c, $m, $k, $isDouble)")
  override protected def withNewChildInternal(newChild: Expression): PortablePqCodes =
    copy(child = newChild)
  override def prettyName: String = "portable_pq_codes"
}

case class PortablePqTable(child: Expression, m: Int, k: Int)
    extends UnaryExpression {
  private lazy val isDouble: Boolean = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case ArrayType(FloatType, _) => false
    case other => throw new IllegalArgumentException(
      s"portable_pq_table needs array<float> or array<double>, got $other")
  }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    PortablePqImpl.table(input.asInstanceOf[ArrayData], m, k, isDouble)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.PortablePqImpl.table($c, $m, $k, $isDouble)")
  override protected def withNewChildInternal(newChild: Expression): PortablePqTable =
    copy(child = newChild)
  override def prettyName: String = "portable_pq_table"
}

case class PqAdcScore(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    PortablePqImpl.adc(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.PortablePqImpl.adc($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqAdcScore =
    copy(left = l, right = r)
  override def prettyName: String = "pq_adc_score"
}

/** PQ / IVF kernels over a CALLER-SUPPLIED codebook (trained k-means
  * centroids), the production sibling of [[PortablePqImpl]]: the
  * codebook arrives as a flat row-major `double[]` baked into the
  * expression (codebooks are driver-resident by definition — FAISS keeps
  * the coarse quantizer and PQ tables in RAM), so corpus encoding and
  * cell routing are pure per-row projections inside whole-stage codegen:
  * zero shuffle over the corpus, the property that matters at 100 TB.
  *
  * L2 assignment uses the dot expansion `argmin |x−c|² = argmax
  * 2x·c − |c|²` (|x|² is constant per subvector) — the same arithmetic
  * [[graft.operators.Quantize.pqEncodeWith]] uses, so a SQL oracle
  * replays every code from `sum(x·c)` and `sum(c²)`. */
object CallerCodebookImpl {
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  private def score(
      v: ArrayData, base: Int, cb: Array[Double], off: Int, sub: Int,
      l2: Boolean, isDouble: Boolean): Double = {
    var dot = 0.0
    var c2 = 0.0
    var i = 0
    if (isDouble) while (i < sub) {
      val c = cb(off + i); dot += v.getDouble(base + i) * c; c2 += c * c; i += 1
    } else while (i < sub) {
      val c = cb(off + i); dot += v.getFloat(base + i).toDouble * c; c2 += c * c
      i += 1
    }
    if (l2) 2.0 * dot - c2 else dot
  }

  /** Per-subspace code: argmax score of subvector `s` against codebook
    * rows `[s·k, (s+1)·k)` (ties → smallest cell) — [[PortablePqImpl]]'s
    * `codes` with the md5 signs replaced by the caller's centroids. */
  def codes(v: ArrayData, cb: Array[Double], m: Int, k: Int,
      l2: Boolean, isDouble: Boolean): ArrayData = {
    val dim = v.numElements()
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    require(cb.length == m * k * sub,
      s"codebook length ${cb.length} != m*k*sub = ${m * k * sub}")
    val out = new Array[Int](m)
    var ss = 0
    while (ss < m) {
      var best = 0
      var bestP = Double.NegativeInfinity
      var c = 0
      while (c < k) {
        val p = score(v, ss * sub, cb, (ss * k + c) * sub, sub, l2, isDouble)
        if (p > bestP) { bestP = p; best = c }
        c += 1
      }
      out(ss) = best
      ss += 1
    }
    new GenericArrayData(out)
  }

  /** Per-query flattened ADC table `(s·k + c) → partial score` for
    * [[PortablePqImpl.adc]] — computed once per query. */
  def table(v: ArrayData, cb: Array[Double], m: Int, k: Int,
      l2: Boolean, isDouble: Boolean): ArrayData = {
    val dim = v.numElements()
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    require(cb.length == m * k * sub,
      s"codebook length ${cb.length} != m*k*sub = ${m * k * sub}")
    val out = new Array[Double](m * k)
    var ss = 0
    while (ss < m) {
      var c = 0
      while (c < k) {
        out(ss * k + c) =
          score(v, ss * sub, cb, (ss * k + c) * sub, sub, l2, isDouble)
        c += 1
      }
      ss += 1
    }
    new GenericArrayData(out)
  }

  /** The `nProbe` nearest coarse cells (full-dimension L2, best first,
    * ties → smaller cell) — selection over `k` cells per row, so routing
    * a vector costs `k·dim` multiplies and no shuffle. `nProbe = 1`
    * is the corpus-side cell ASSIGNMENT. */
  def probes(v: ArrayData, cb: Array[Double], k: Int, nProbe: Int,
      isDouble: Boolean): ArrayData = {
    val dim = v.numElements()
    require(cb.length == k * dim,
      s"coarse codebook length ${cb.length} != k*dim = ${k * dim}")
    val s = new Array[Double](k)
    var c = 0
    while (c < k) {
      s(c) = score(v, 0, cb, c * dim, dim, l2 = true, isDouble); c += 1
    }
    val n = math.min(nProbe, k)
    val out = new Array[Int](n)
    val taken = new Array[Boolean](k)
    var r = 0
    while (r < n) {
      var best = -1
      var bestP = Double.NegativeInfinity
      c = 0
      while (c < k) {
        if (!taken(c) && s(c) > bestP) { bestP = s(c); best = c }
        c += 1
      }
      taken(best) = true
      out(r) = best
      r += 1
    }
    new GenericArrayData(out)
  }
}

case class CodebookPqCodes(child: Expression, cb: Array[Double], m: Int,
    k: Int, l2: Boolean) extends UnaryExpression {
  private lazy val isDouble: Boolean = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case ArrayType(FloatType, _) => false
    case other => throw new IllegalArgumentException(
      s"codebook_pq_codes needs array<float> or array<double>, got $other")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    CallerCodebookImpl.codes(input.asInstanceOf[ArrayData], cb, m, k, l2, isDouble)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("cb", cb, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.CallerCodebookImpl.codes($c, $cbRef, $m, $k, $l2, $isDouble)")
  }
  override protected def withNewChildInternal(newChild: Expression): CodebookPqCodes =
    copy(child = newChild)
  override def prettyName: String = "codebook_pq_codes"
}

case class CodebookPqTable(child: Expression, cb: Array[Double], m: Int,
    k: Int, l2: Boolean) extends UnaryExpression {
  private lazy val isDouble: Boolean = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case ArrayType(FloatType, _) => false
    case other => throw new IllegalArgumentException(
      s"codebook_pq_table needs array<float> or array<double>, got $other")
  }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    CallerCodebookImpl.table(input.asInstanceOf[ArrayData], cb, m, k, l2, isDouble)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("cb", cb, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.CallerCodebookImpl.table($c, $cbRef, $m, $k, $l2, $isDouble)")
  }
  override protected def withNewChildInternal(newChild: Expression): CodebookPqTable =
    copy(child = newChild)
  override def prettyName: String = "codebook_pq_table"
}

case class CodebookProbes(child: Expression, cb: Array[Double], k: Int,
    nProbe: Int) extends UnaryExpression {
  private lazy val isDouble: Boolean = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case ArrayType(FloatType, _) => false
    case other => throw new IllegalArgumentException(
      s"codebook_probes needs array<float> or array<double>, got $other")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    CallerCodebookImpl.probes(input.asInstanceOf[ArrayData], cb, k, nProbe, isDouble)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("cb", cb, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.CallerCodebookImpl.probes($c, $cbRef, $k, $nProbe, $isDouble)")
  }
  override protected def withNewChildInternal(newChild: Expression): CodebookProbes =
    copy(child = newChild)
  override def prettyName: String = "codebook_probes"
}

case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    VecOps.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecOps.dot($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): FloatVecDot =
    copy(left = l, right = r)
  override def prettyName: String = "vec_dot"
}

case class FloatVecCosine(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    VecOps.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecOps.cosine($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): FloatVecCosine =
    copy(left = l, right = r)
  override def prettyName: String = "vec_cosine"
}

case class FloatVecNorm(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any): Any = VecOps.norm(a.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecOps.norm($c)")
  override protected def withNewChildInternal(newChild: Expression): FloatVecNorm =
    copy(child = newChild)
  override def prettyName: String = "vec_norm"
}

/** Random-hyperplane signature bits for cosine-space LSH bucketing. */
case class HyperplaneBits(child: Expression, nBits: Int, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any): Any =
    VecOps.hyperplaneBits(a.asInstanceOf[ArrayData], nBits, seed)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VecOps.hyperplaneBits($c, $nBits, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): HyperplaneBits =
    copy(child = newChild)
  override def prettyName: String = "hyperplane_bits"
}

/** Native text→hash kernels for the dedup hot path. MinHash/Jaccard never
  * need materialized shingle STRINGS — only a stable hash per shingle —
  * so these produce `array<long>` straight from the document text: one
  * pass, zero string allocation, no interpreted lambda re-evaluation
  * (the higher-order-function formulation re-evaluates the token split
  * per lambda element — O(tokens²) interpreted work per row).
  */
object TextHashImpl {
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  /** xxhash64-style hash per lowercased whitespace token. */
  def tokenHashes(s: UTF8String, seed: Long): Array[Long] = {
    val bytes = s.toLowerCase.getBytes
    val out = new scala.collection.mutable.ArrayBuffer[Long](32)
    var i = 0
    val n = bytes.length
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      val start = i
      var h = 0xcbf29ce484222325L
      while (i < n && !isWs(bytes(i))) {
        h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L
        i += 1
      }
      if (i > start) out += VecOps.splitmix64(h ^ seed)
    }
    out.toArray
  }

  @inline private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '\f'

  /** Hash per word n-gram: splitmix fold over n consecutive token hashes.
    * Empty when the document has fewer than n tokens. */
  def wordShingleHashes(s: UTF8String, n: Int, seed: Long): ArrayData = {
    val toks = tokenHashes(s, seed)
    if (toks.length < n) return new GenericArrayData(Array.empty[Long])
    val out = new Array[Long](toks.length - n + 1)
    var i = 0
    while (i <= toks.length - n) {
      var h = seed
      var j = 0
      while (j < n) { h = VecOps.splitmix64(h ^ toks(i + j)); j += 1 }
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Word n-gram STRINGS in one pass: a token-boundary walk over the
    * (optionally lowercased) bytes, then each n-token window copied into
    * a fresh UTF8String with single-space separators. Value-identical to
    * `filter(split(text, "[ \t\n\r\f]+"), _ != "")` slid with
    * `array_join(slice(toks, i, n), " ")` — but that higher-order
    * formulation evaluates interpreted lambdas per gram position and
    * re-slices the token array each time; this is the q143-style
    * corpus-mining hot path, so it gets the same native treatment as
    * the hash kernels above. */
  def wordNgrams(s: UTF8String, n: Int, lowercase: Boolean): ArrayData = {
    val str = if (lowercase) s.toLowerCase else s
    val bytes = str.getBytes
    val len = bytes.length
    val starts = new scala.collection.mutable.ArrayBuffer[Int](64)
    val ends = new scala.collection.mutable.ArrayBuffer[Int](64)
    var i = 0
    while (i < len) {
      while (i < len && isWs(bytes(i))) i += 1
      val st = i
      while (i < len && !isWs(bytes(i))) i += 1
      if (i > st) { starts += st; ends += i }
    }
    val t = starts.length
    if (t < n) return new GenericArrayData(Array.empty[AnyRef])
    val out = new Array[AnyRef](t - n + 1)
    var g = 0
    while (g <= t - n) {
      var size = n - 1
      var j = 0
      while (j < n) { size += ends(g + j) - starts(g + j); j += 1 }
      val buf = new Array[Byte](size)
      var pos = 0
      j = 0
      while (j < n) {
        if (j > 0) { buf(pos) = ' '; pos += 1 }
        val l = ends(g + j) - starts(g + j)
        System.arraycopy(bytes, starts(g + j), buf, pos, l)
        pos += l
        j += 1
      }
      out(g) = UTF8String.fromBytes(buf)
      g += 1
    }
    new GenericArrayData(out)
  }

  /** Hash per character n-gram of the normalized text (lowercased,
    * whitespace runs collapsed to single spaces, trimmed). */
  def charShingleHashes(s: UTF8String, n: Int, seed: Long): ArrayData = {
    val raw = s.toLowerCase.getBytes
    // collapse whitespace
    val norm = new Array[Byte](raw.length)
    var m = 0
    var i = 0
    var pendingSpace = false
    while (i < raw.length) {
      if (isWs(raw(i))) { if (m > 0) pendingSpace = true }
      else {
        if (pendingSpace) { norm(m) = ' '; m += 1; pendingSpace = false }
        norm(m) = raw(i); m += 1
      }
      i += 1
    }
    if (m < n) return new GenericArrayData(Array.empty[Long])
    val out = new Array[Long](m - n + 1)
    i = 0
    while (i <= m - n) {
      var h = 0xcbf29ce484222325L ^ seed
      var j = 0
      while (j < n) { h ^= (norm(i + j) & 0xffL); h *= 0x100000001b3L; j += 1 }
      out(i) = VecOps.splitmix64(h)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Distinct-element Jaccard of two long arrays (sort-merge, no boxing). */
  def jaccardLongs(a: ArrayData, b: ArrayData): Double = {
    val x = a.toLongArray().clone(); val y = b.toLongArray().clone()
    java.util.Arrays.sort(x); java.util.Arrays.sort(y)
    var i = 0; var j = 0
    var inter = 0; var union = 0
    while (i < x.length || j < y.length) {
      // skip duplicates
      while (i + 1 < x.length && x(i + 1) == x(i) && (j >= y.length || x(i) <= y(j))) i += 1
      while (j + 1 < y.length && y(j + 1) == y(j) && (i >= x.length || y(j) <= x(i))) j += 1
      if (i < x.length && j < y.length && x(i) == y(j)) {
        inter += 1; union += 1
        val v = x(i)
        while (i < x.length && x(i) == v) i += 1
        while (j < y.length && y(j) == v) j += 1
      } else if (j >= y.length || (i < x.length && x(i) < y(j))) {
        union += 1
        val v = x(i)
        while (i < x.length && x(i) == v) i += 1
      } else {
        union += 1
        val v = y(j)
        while (j < y.length && y(j) == v) j += 1
      }
    }
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** MinHash mins over pre-hashed shingles (masked to 31 bits). */
  def minsFromHashes(hashes: ArrayData, k: Int, seed: Long): Array[Long] = {
    val (a, b) = MinHashImpl.coefs(seed, k)
    val out = Array.fill(k)(Long.MaxValue)
    val n = hashes.numElements()
    var s = 0
    while (s < n) {
      val base = hashes.getLong(s) & 0x7fffffffL
      var i = 0
      while (i < k) {
        val v = (base * a(i) + b(i)) % 2147483647L  // permutation via mod-prime
        if (v < out(i)) out(i) = v
        i += 1
      }
      s += 1
    }
    out
  }

  def bandKeysFromHashes(hashes: ArrayData, bands: Int, rows: Int, seed: Long): ArrayData =
    MinHashImpl.foldBands(minsFromHashes(hashes, bands * rows, seed), bands, rows, seed)
}

case class WordShingleHashes(child: Expression, n: Int, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    TextHashImpl.wordShingleHashes(input.asInstanceOf[UTF8String], n, seed)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextHashImpl.wordShingleHashes($c, $n, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): WordShingleHashes =
    copy(child = newChild)
  override def prettyName: String = "word_shingle_hashes"
}

/** The nine per-document counts behind the Gopher quality rules
  * (`Quality.gopherFlags`), in one pass over the bytes of a document
  * that Spark's `Lower` has already lower-cased. Lower-casing neither
  * makes nor removes a space, `\n`, `#`, `.`, `-`, `*`, `•` or `…`, so
  * the line and symbol counts equal those of the original text, and the
  * tokens equal those of `lower(trim(text))`: `trim` strips only spaces,
  * which separate tokens anyway. The counts replay the column
  * formulation exactly:
  *   - tokens: maximal runs outside the five `[ \t\n\r\f]` bytes;
  *   - token length in characters (UTF-8 lead bytes);
  *   - `...` counted left to right without overlap, plus each `…` (the
  *     symbol-ratio and line-end rules share this one definition, so a
  *     document full of `…` cannot pass one and fail the other);
  *   - lines: `split(text, "\n")`, trailing empty lines kept;
  *   - a bullet line starts, after leading spaces, with `•`, `- ` or
  *     `* `; an ellipsis line ends, before trailing spaces, with `...`
  *     or `…`;
  *   - an alphabetic token holds a byte in `a`–`z`;
  *   - stop words: how many of the eight occur as a token. */
object GopherImpl {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  val Fields: Seq[String] = Seq("words", "word_chars", "hashes", "ellipses",
    "lines", "bullet_lines", "ellipsis_lines", "alpha_words", "stop_words")

  private val stop = Array("the", "be", "to", "of", "and", "that", "have", "with")
    .map(_.getBytes("UTF-8"))

  @inline private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '\f'

  // '•' is E2 80 A2 and '…' is E2 80 A6 in UTF-8; callers check i + 3 <= end
  @inline private def isE280(b: Array[Byte], i: Int, last: Int): Boolean =
    b(i) == 0xe2.toByte && b(i + 1) == 0x80.toByte && b(i + 2) == last.toByte
  @inline private def isBulletChar(b: Array[Byte], i: Int): Boolean = isE280(b, i, 0xa2)
  @inline private def isEllipsisChar(b: Array[Byte], i: Int): Boolean = isE280(b, i, 0xa6)

  private def stopBit(b: Array[Byte], st: Int, end: Int): Int = {
    var w = 0
    while (w < stop.length) {
      val s = stop(w)
      if (s.length == end - st) {
        var j = 0
        while (j < s.length && s(j) == b(st + j)) j += 1
        if (j == s.length) return 1 << w
      }
      w += 1
    }
    0
  }

  def counts(lowered: UTF8String): InternalRow = {
    val b = lowered.getBytes
    val n = b.length
    var words, chars, alpha = 0L
    var stops = 0
    var i = 0
    while (i < n) {
      while (i < n && isWs(b(i))) i += 1
      val st = i
      var c = 0L
      var hasAlpha = false
      while (i < n && !isWs(b(i))) {
        val x = b(i)
        if ((x & 0xc0) != 0x80) c += 1
        if (x >= 'a' && x <= 'z') hasAlpha = true
        i += 1
      }
      if (i > st) {
        words += 1; chars += c
        if (hasAlpha) alpha += 1
        stops |= stopBit(b, st, i)
      }
    }
    var hashes, ellipses, dots = 0L
    var lines, bullets, ellLines = 0L
    var ls = 0
    i = 0
    while (i <= n) {
      if (i == n || b(i) == '\n') {
        ellipses += dots / 3; dots = 0
        lines += 1
        var p = ls
        while (p < i && b(p) == ' ') p += 1
        if ((p + 3 <= i && isBulletChar(b, p)) ||
            (p + 2 <= i && (b(p) == '-' || b(p) == '*') && b(p + 1) == ' ')) bullets += 1
        var q = i
        while (q > ls && b(q - 1) == ' ') q -= 1
        if (q - ls >= 3 &&
            ((b(q - 1) == '.' && b(q - 2) == '.' && b(q - 3) == '.') ||
              isEllipsisChar(b, q - 3))) ellLines += 1
        ls = i + 1
      } else {
        val x = b(i)
        if (x == '.') dots += 1
        else {
          ellipses += dots / 3; dots = 0
          if (x == '#') hashes += 1
          else if (i + 3 <= n && isEllipsisChar(b, i)) ellipses += 1
        }
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](words, chars, hashes, ellipses, lines,
      bullets, ellLines, alpha, Integer.bitCount(stops).toLong))
  }
}

case class GopherCounts(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    StructType(GopherImpl.Fields.map(StructField(_, LongType, nullable = false)))
  override def nullSafeEval(input: Any): Any =
    GopherImpl.counts(input.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GopherImpl.counts($c)")
  override protected def withNewChildInternal(newChild: Expression): GopherCounts =
    copy(child = newChild)
  override def prettyName: String = "gopher_counts"
}

case class WordNgrams(child: Expression, n: Int, lowercase: Boolean)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    TextHashImpl.wordNgrams(input.asInstanceOf[UTF8String], n, lowercase)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextHashImpl.wordNgrams($c, $n, $lowercase)")
  override protected def withNewChildInternal(newChild: Expression): WordNgrams =
    copy(child = newChild)
  override def prettyName: String = "word_ngrams"
}

case class CharShingleHashes(child: Expression, n: Int, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    TextHashImpl.charShingleHashes(input.asInstanceOf[UTF8String], n, seed)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextHashImpl.charShingleHashes($c, $n, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): CharShingleHashes =
    copy(child = newChild)
  override def prettyName: String = "char_shingle_hashes"
}

case class MinHashBandKeysFromHashes(child: Expression, bands: Int, rows: Int, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    TextHashImpl.bandKeysFromHashes(input.asInstanceOf[ArrayData], bands, rows, seed)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextHashImpl.bandKeysFromHashes($c, $bands, $rows, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): MinHashBandKeysFromHashes =
    copy(child = newChild)
  override def prettyName: String = "minhash_band_keys_from_hashes"
}

case class JaccardLongs(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    TextHashImpl.jaccardLongs(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextHashImpl.jaccardLongs($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardLongs =
    copy(left = l, right = r)
  override def prettyName: String = "jaccard_longs"
}

/** SimHash straight from document text: tokenize + hash + bit-vote in one
  * native pass (see [[SimHashImpl]] for the classic array-input form). */
case class SimHashText(child: Expression, seed: Long) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    SimHashText.compute(input.asInstanceOf[UTF8String], seed)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHashText.compute($c, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): SimHashText =
    copy(child = newChild)
  override def prettyName: String = "simhash_text"
}

object SimHashText {
  def compute(s: UTF8String, seed: Long): Long =
    SimHashImpl.voteBits(TextHashImpl.tokenHashes(s, seed))
}

/** Morton (Z-order) code: interleave the bits of two 16-bit cell ids into
  * one 32-bit value, so lexicographic order on the code preserves spatial
  * locality in BOTH dimensions — rows sorted by z-code give parquet
  * row-group min/max statistics that prune on either column. */
object ZOrderImpl {
  /** Spread the low 16 bits of `v` into the even bit positions. */
  @inline def spread16(v0: Long): Long = {
    var v = v0 & 0xffffL
    v = (v | (v << 8)) & 0x00ff00ffL
    v = (v | (v << 4)) & 0x0f0f0f0fL
    v = (v | (v << 2)) & 0x33333333L
    v = (v | (v << 1)) & 0x55555555L
    v
  }
  def interleave(a: Long, b: Long): Long = spread16(a) | (spread16(b) << 1)
}

case class InterleaveBits(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any =
    ZOrderImpl.interleave(a.asInstanceOf[Long], b.asInstanceOf[Long])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ZOrderImpl.interleave($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): InterleaveBits =
    copy(left = l, right = r)
  override def prettyName: String = "interleave_bits"
}

/** Merge-walk token filter for span dedup: drop the 0-based indices in a
  * sorted drop list in one pass — O(tokens + drops), where the
  * `filter(toks, (x, i) => !array_contains(drops, i))` formulation is
  * O(tokens × drops) and quadratic on heavily-duplicated documents. */
object SpanImpl {
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  /** `toks` minus the 0-based indices in `drops` (ascending; duplicates
    * and out-of-range values tolerated). */
  def keepExcept(toks: ArrayData, drops: ArrayData): ArrayData = {
    val nT = toks.numElements()
    val nD = drops.numElements()
    val out = new Array[UTF8String](nT)
    var i = 0
    var j = 0
    var m = 0
    while (i < nT) {
      while (j < nD && drops.getInt(j) < i) j += 1
      if (!(j < nD && drops.getInt(j) == i)) {
        out(m) = toks.getUTF8String(i)
        m += 1
      }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, m))
  }
}

case class KeepTokensExcept(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(a: Any, b: Any): Any =
    SpanImpl.keepExcept(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.SpanImpl.keepExcept($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): KeepTokensExcept =
    copy(left = l, right = r)
  override def prettyName: String = "keep_tokens_except"
}

/** Next-fit sequence packing over an ordered token-count array: bin
  * breaks are inherently sequential (each depends on the previous
  * running total), so the scan runs as one native O(n) pass where the
  * ordered sequence lives — per group row, inside codegen — instead of
  * a driver loop or an iterative join. */
object PackImpl {
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  /** Bin index per element: first element opens bin 0; element i moves
    * to a fresh bin iff the running total would exceed `capacity`.
    * Negative counts clamp to 0; an element larger than `capacity` gets
    * a bin of its own (never split). */
  def nextFit(tokens: ArrayData, capacity: Long): ArrayData = {
    val n = tokens.numElements()
    val out = new Array[Int](n)
    var running = 0L
    var bin = 0
    var i = 0
    while (i < n) {
      val t = math.max(tokens.getLong(i), 0L)
      if (i == 0) running = t
      else if (running + t > capacity) { bin += 1; running = t }
      else running += t
      out(i) = bin
      i += 1
    }
    new GenericArrayData(out)
  }
}

case class PackBinsNextFit(child: Expression, capacity: Long)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(a: Any): Any =
    PackImpl.nextFit(a.asInstanceOf[ArrayData], capacity)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PackImpl.nextFit($c, ${capacity}L)")
  override protected def withNewChildInternal(newChild: Expression): PackBinsNextFit =
    copy(child = newChild)
  override def prettyName: String = "pack_bins_next_fit"
}

/** Unicode normalization — the canonical-form pass a web corpus needs
  * before ANY text hashing: the same word crawled as precomposed "é"
  * (U+00E9) and as "e"+U+0301 is byte-different, so exact dedup, minhash
  * shingles, and token counts all silently disagree until both are
  * normalized. Wraps the JDK's `java.text.Normalizer` (Unicode UAX #15)
  * in a codegen'd expression; the already-normalized fast path (the vast
  * majority of real text) is a pure scan that allocates nothing. */
object UnicodeNormImpl {
  private val FORMS: Array[java.text.Normalizer.Form] =
    java.text.Normalizer.Form.values()

  def normalize(s: UTF8String, formOrdinal: Int): UTF8String = {
    val f = FORMS(formOrdinal)
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, f)) s
    else UTF8String.fromString(java.text.Normalizer.normalize(str, f))
  }
}

case class UnicodeNormalize(child: Expression, formOrdinal: Int)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    UnicodeNormImpl.normalize(input.asInstanceOf[UTF8String], formOrdinal)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.UnicodeNormImpl.normalize($c, $formOrdinal)")
  override protected def withNewChildInternal(newChild: Expression): UnicodeNormalize =
    copy(child = newChild)
  override def prettyName: String = "unicode_normalize"
}

/** Within-document unigram statistics — the cheap gibberish/repetition
  * signals a quality pipeline computes for every document: Shannon
  * entropy of the unigram distribution (low = repetitive spam, high =
  * random noise) and the distinct-token count. One hash-map pass per
  * row; tokenization is the engine-portable explicit whitespace class
  * (same as `TextFunctions.tokens`: lowercased, empties dropped). */
object EntropyImpl {
  private def counts(s: UTF8String): java.util.HashMap[String, Int] = {
    val m = new java.util.HashMap[String, Int]()
    val str = s.toString.toLowerCase
    var i = 0
    val n = str.length
    while (i < n) {
      while (i < n && isWs(str.charAt(i))) i += 1
      val start = i
      while (i < n && !isWs(str.charAt(i))) i += 1
      if (i > start) m.merge(str.substring(start, i), 1, Integer.sum _)
    }
    m
  }

  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f'

  def unigramEntropy(s: UTF8String): Double = {
    val m = counts(s)
    var total = 0L
    val it0 = m.values().iterator()
    while (it0.hasNext) total += it0.next().toLong
    if (total == 0L) return 0.0
    var h = 0.0
    val it = m.values().iterator()
    while (it.hasNext) {
      val p = it.next().toDouble / total
      h -= p * math.log(p)
    }
    h
  }
}

case class UnigramEntropy(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(input: Any): Any =
    EntropyImpl.unigramEntropy(input.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.EntropyImpl.unigramEntropy($c)")
  override protected def withNewChildInternal(newChild: Expression): UnigramEntropy =
    copy(child = newChild)
  override def prettyName: String = "unigram_entropy"
}

/** Jaro and Jaro–Winkler string similarity over UTF-8 BYTES — the exact
  * semantics of DuckDB's `jaro_winkler_similarity` (itself the rapidfuzz
  * algorithm), verified value-for-value in the q260 gate: byte-level
  * comparison (multi-byte codepoints count per byte), match window
  * `max(len)/2 - 1` (floored at 0), transposition count halved by integer
  * division, Winkler boost `+ prefix·0.1·(1−jaro)` only when jaro > 0.7
  * with the common prefix capped at 4 bytes, and 0.0 (not 1.0) when
  * either side is empty. Record linkage across engines needs the VALUES
  * to agree, not just the algorithm family — hence a spec'd kernel
  * instead of a per-case reimplementation.
  */
object JaroWinklerImpl {

  def jaroBytes(a: Array[Byte], b: Array[Byte]): Double = {
    val la = a.length
    val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    val window = math.max(math.max(la, lb) / 2 - 1, 0)
    val aMatch = new Array[Boolean](la)
    val bMatch = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val hi = math.min(lb - 1, i + window)
      var j = math.max(0, i - window)
      var found = false
      while (j <= hi && !found) {
        if (!bMatch(j) && a(i) == b(j)) {
          aMatch(i) = true; bMatch(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < la) {
      if (aMatch(i)) {
        while (!bMatch(k)) k += 1
        if (a(i) != b(k)) t += 1
        k += 1
      }
      i += 1
    }
    val md = m.toDouble
    (md / la + md / lb + (md - t / 2) / md) / 3.0
  }

  /** Allocation-free fast path for strings up to 64 bytes (nearly all
    * names/titles): match flags live in two Long bitmasks and bytes are
    * read in place from the UTF8String — no per-call arrays. Same
    * result as [[jaroBytes]] by construction (same traversal order). */
  private def jaroShort(a: UTF8String, la: Int, b: UTF8String, lb: Int): Double = {
    val window = math.max(math.max(la, lb) / 2 - 1, 0)
    var aM = 0L
    var bM = 0L
    var m = 0
    var i = 0
    while (i < la) {
      val ca = a.getByte(i)
      val hi = math.min(lb - 1, i + window)
      var j = math.max(0, i - window)
      var found = false
      while (j <= hi && !found) {
        if ((bM & (1L << j)) == 0L && ca == b.getByte(j)) {
          aM |= 1L << i; bM |= 1L << j; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < la) {
      if ((aM & (1L << i)) != 0L) {
        while ((bM & (1L << k)) == 0L) k += 1
        if (a.getByte(i) != b.getByte(k)) t += 1
        k += 1
      }
      i += 1
    }
    val md = m.toDouble
    (md / la + md / lb + (md - t / 2) / md) / 3.0
  }

  def jaro(a: UTF8String, b: UTF8String): Double = {
    val la = a.numBytes
    val lb = b.numBytes
    if (la == 0 || lb == 0) 0.0
    else if (la <= 64 && lb <= 64) jaroShort(a, la, b, lb)
    else jaroBytes(a.getBytes, b.getBytes)
  }

  def jaroWinkler(a: UTF8String, b: UTF8String): Double = {
    val sim = jaro(a, b)
    if (sim <= 0.7) return sim
    val cap = math.min(4, math.min(a.numBytes, b.numBytes))
    var p = 0
    while (p < cap && a.getByte(p) == b.getByte(p)) p += 1
    sim + p * 0.1 * (1.0 - sim)
  }
}

case class JaroWinklerSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinklerImpl.jaroWinkler(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.JaroWinklerImpl.jaroWinkler($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaroWinklerSim =
    copy(left = l, right = r)
  override def prettyName: String = "jaro_winkler"
}

case class JaroSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinklerImpl.jaro(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.JaroWinklerImpl.jaro($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaroSim =
    copy(left = l, right = r)
  override def prettyName: String = "jaro"
}

/** Dynamic-time-warping kernel: the O(n·m) two-row DP as a static JVM
  * method callable from generated code — DTW cannot be expressed with
  * Spark's array lambdas (the inner recurrence reads its OWN row's
  * previous cell, which `transform` can't), so this is the (b)-tier
  * custom-Expression path.
  *
  * Local cost |aᵢ − bⱼ|; Sakoe–Chiba band of half-width
  * `max(band, |n−m|)` (widened so a feasible path always exists).
  * Out-of-band cells hold exactly 1e308 — a value that absorbs any
  * realistic cost addition without changing (1e308 + x == 1e308 in
  * IEEE for x < its ulp ≈ 2e292), so banded results are deterministic
  * bit-for-bit. With integral inputs (the ×100 convention) every
  * in-band cell is an exact integer-valued double: the strongest
  * determinism tier.
  */
object DtwImpl {
  final val Inf = 1e308

  def dtw(a: ArrayData, b: ArrayData, band: Int): Double = {
    val n = a.numElements()
    val m = b.numElements()
    if (n == 0 && m == 0) return 0.0
    if (n == 0 || m == 0) return Inf
    // cap at max(n, m): wider adds nothing and i + w must not overflow
    val w = math.min(math.max(band, math.abs(n - m)), math.max(n, m))
    var prev = new Array[Double](m + 1)
    var curr = new Array[Double](m + 1)
    var j = 1
    prev(0) = 0.0
    while (j <= m) { prev(j) = Inf; j += 1 }
    var i = 1
    while (i <= n) {
      curr(0) = Inf
      val lo = math.max(1, i - w)
      val hi = math.min(m, i + w)
      j = 1
      while (j < lo) { curr(j) = Inf; j += 1 }
      while (j <= hi) {
        val cost = math.abs(a.getDouble(i - 1) - b.getDouble(j - 1))
        var best = prev(j)
        if (curr(j - 1) < best) best = curr(j - 1)
        if (prev(j - 1) < best) best = prev(j - 1)
        curr(j) = cost + best
        j += 1
      }
      while (j <= m) { curr(j) = Inf; j += 1 }
      val t = prev; prev = curr; curr = t
      i += 1
    }
    prev(m)
  }
}

/** `dtw(array<double>, array<double>, band)` → double. */
case class DtwDistance(left: Expression, right: Expression, band: Int)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    DtwImpl.dtw(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], band)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.DtwImpl.dtw($a, $b, $band)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DtwDistance =
    copy(left = l, right = r)
  override def prettyName: String = "dtw"
}

/** Rank index of an ordered BPE merge table: (left, right) → the
  * ASCENDING list of 0-based ranks at which that pair appears in the
  * table (a duplicated pair is a distinct pass per occurrence). Built
  * ONCE on the driver by [[BpeApplyMerges]], shipped to executors as a
  * plan reference object. Two-level map (left → right → ranks) so the
  * per-adjacency lookup in the apply kernel never allocates a
  * composite key. */
final class BpeRankIndex(merges: Seq[(String, String)]) extends Serializable {
  private val map =
    new java.util.HashMap[String, java.util.HashMap[String, Array[Int]]]()
  locally {
    var i = 0
    merges.foreach { case (l, r) =>
      require(l != null && r != null,
        s"bpe_apply: merge table entry $i has a null component")
      val inner = map.computeIfAbsent(l,
        _ => new java.util.HashMap[String, Array[Int]]())
      val prev = inner.get(r)
      // ranks arrive in table order, so each per-pair list is ascending
      inner.put(r, if (prev == null) Array(i) else prev :+ i)
      i += 1
    }
  }

  /** Smallest rank of pair (`l`,`r`) that is `>= floor`, or
    * `Int.MaxValue` when the pair has none. Per-pair rank lists are
    * almost always length 1, so a linear scan beats binary search. */
  def rankAtLeast(l: String, r: String, floor: Int): Int = {
    val inner = map.get(l)
    if (inner == null) return Int.MaxValue
    val a = inner.get(r)
    if (a == null) return Int.MaxValue
    var i = 0
    while (i < a.length) { if (a(i) >= floor) return a(i); i += 1 }
    Int.MaxValue
  }
}

/** BPE apply over a word's symbol array — one JVM kernel per word, two
  * formulations with IDENTICAL semantics:
  *
  *   - [[apply]] (the production kernel, r12 verdict ask #1): the
  *     RANK-MAP apply — repeatedly merge the lowest-rank adjacent pair
  *     at its leftmost occurrence, never reconsidering ranks below the
  *     last-merged one (`floor`). O(len²) hash probes per word,
  *     INDEPENDENT of the merge-table size, so a real 32k–64k-merge
  *     tokenizer costs the same per word as a 12-merge one.
  *   - [[applySequential]] (the reference kernel): the ordered merge
  *     table as `merges` sequential in-place greedy left-to-right
  *     folds — O(merges × len) per word; retained verbatim as the
  *     executable spec of the fold semantics (KernelPropertySpec's
  *     law).
  *
  * The two are equivalent for ARBITRARY tables, not only prefix-closed
  * ones: the sequential pass-by-pass execution always performs, next,
  * the lowest-rank pair ≥ the current pass at its leftmost occurrence
  * — passes below the floor are complete and never revisited; a new
  * adjacency created mid-run is merged by the sequential semantics iff
  * its (smallest eligible) rank is ≥ the pass that created it, which
  * is exactly the floor rule; merging (l,r)→l+r can create no new
  * (l,r) occurrence (l+r ≠ l and l+r ≠ r, so neither side of the new
  * token re-forms the pair); a duplicated table pair is two distinct
  * passes, which the per-pair ascending rank list replays. Greedy
  * left-to-right within a pass ≡ repeated leftmost-occurrence merge
  * for the same no-self-recreation reason. KernelPropertySpec locks
  * the equivalence on random words × random (unconstrained) tables
  * and on ≥32k-entry deep tables. */
object BpeApplyImpl {
  /** Rank-map apply (see the object doc for the equivalence argument).
    * NULL symbols pass through unmerged and block merges across them —
    * the rank lookup is skipped when either side is null, exactly the
    * fold chain's NULL-comparison behavior. */
  def apply(syms: ArrayData, idx: BpeRankIndex): ArrayData = {
    val n = syms.numElements()
    val cur = new Array[String](n)
    var i = 0
    while (i < n) {
      val u = if (syms.isNullAt(i)) null else syms.getUTF8String(i)
      cur(i) = if (u == null) null else u.toString
      i += 1
    }
    var len = n
    var floor = 0
    var go = len > 1
    while (go) {
      var best = Int.MaxValue
      var bestPos = -1
      i = 0
      while (i + 1 < len) {
        val l = cur(i)
        val r = cur(i + 1)
        if (l != null && r != null) {
          val rk = idx.rankAtLeast(l, r, floor)
          if (rk < best) { best = rk; bestPos = i }
        }
        i += 1
      }
      if (bestPos < 0) go = false
      else {
        cur(bestPos) = cur(bestPos) + cur(bestPos + 1)
        var j = bestPos + 1
        while (j + 1 < len) { cur(j) = cur(j + 1); j += 1 }
        len -= 1
        floor = best
        if (len < 2) go = false
      }
    }
    val out = new Array[Any](len)
    i = 0
    while (i < len) { out(i) = UTF8String.fromString(cur(i)); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** The pre-r13 sequential-fold kernel, kept as the executable
    * reference (NOT on any production path). `table` is the flattened
    * (left, right) pair list in merge order. NULL elements pass
    * through unmerged and block merges across them — exactly what the
    * replaced fold chain did (`x === lit(r)` is NULL-valued, so nulls
    * always took the append branch). */
  def applySequential(syms: ArrayData, table: Array[String]): ArrayData = {
    val n = syms.numElements()
    val cur = new Array[String](n)
    var i = 0
    while (i < n) {
      val u = if (syms.isNullAt(i)) null else syms.getUTF8String(i)
      cur(i) = if (u == null) null else u.toString
      i += 1
    }
    var len = n
    var m = 0
    while (m < table.length && len > 1) {
      val l = table(m); val r = table(m + 1)
      var j = 0 // write pointer — j <= read pointer, in-place is safe
      i = 0
      while (i < len) {
        val x = cur(i)
        if (j > 0 && cur(j - 1) == l && x == r) cur(j - 1) = l + r
        else { cur(j) = x; j += 1 }
        i += 1
      }
      len = j
      m += 2
    }
    val out = new Array[Any](len)
    i = 0
    while (i < len) { out(i) = UTF8String.fromString(cur(i)); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** `bpe_apply(array<string>, merge table)` → array<string>: the whole
  * frozen tokenizer as one codegen'd expression; the merge table ships
  * to executors as a [[BpeRankIndex]] plan reference object, and the
  * per-word cost is table-size-independent ([[BpeApplyImpl]]) — a
  * production 32k–64k-merge tokenizer is in contract. */
case class BpeApplyMerges(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {
  @transient private lazy val rankIndex: BpeRankIndex =
    new BpeRankIndex(merges)
  // analysis-time input validation (the PortablePqCodes idiom) + null
  // tolerance derived from the child: nulls pass through unmerged
  private lazy val childNullable: Boolean = child.dataType match {
    case ArrayType(StringType, n) => n
    case other => throw new IllegalArgumentException(
      s"bpe_apply needs array<string>, got $other")
  }
  override def dataType: DataType =
    ArrayType(StringType, containsNull = childNullable)
  override def nullSafeEval(input: Any): Any =
    BpeApplyImpl.apply(input.asInstanceOf[ArrayData], rankIndex)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idx = ctx.addReferenceObj("bpeRankIndex", rankIndex,
      "graft.functions.BpeRankIndex")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.BpeApplyImpl.apply($c, $idx)")
  }
  override protected def withNewChildInternal(newChild: Expression): BpeApplyMerges =
    copy(child = newChild)
  override def prettyName: String = "bpe_apply"
}

/** Frozen VOCABULARY index for greedy longest-match segmentation —
  * the WordPiece/SentencePiece-style APPLY that consumes a finished
  * token vocabulary instead of an ordered merge table: at each
  * position take the LONGEST vocabulary entry that prefixes the
  * remaining characters; if no entry (not even one character) matches,
  * the WHOLE word becomes the `unk` token (WordPiece's whole-word-UNK
  * rule). Deviation from WordPiece proper, documented: one vocabulary
  * for every position — no `##` continuation-prefix distinction (the
  * `##` marking exists for detokenization, which segmentation and
  * token counting never need). Ships to executors as a plan reference
  * object; per-word cost is O(len × maxEntryLen) probes, independent
  * of the vocabulary SIZE (the same independence contract as
  * [[BpeRankIndex]]). */
final class VocabIndex(vocab: Seq[String], val unk: String)
    extends Serializable {
  require(unk != null && unk.nonEmpty, "unk token must be non-empty")
  private val set = new java.util.HashSet[String]()
  val maxLen: Int = {
    var m = 0
    vocab.foreach { t =>
      require(t != null && t.nonEmpty,
        "vocabulary entries must be non-empty strings")
      set.add(t)
      if (t.length > m) m = t.length
    }
    require(m > 0, "vocabulary must be non-empty")
    m
  }
  def contains(tok: String): Boolean = set.contains(tok)
}

/** Greedy longest-match segmentation kernel (see [[VocabIndex]] for
  * semantics). Works in UTF-16 code units like the BPE char split —
  * supplementary-plane text should be normalized first (the library's
  * documented tokenization convention). */
object VocabSegmentImpl {
  def apply(word: UTF8String, idx: VocabIndex): ArrayData = {
    val s = word.toString
    val n = s.length
    val out = new scala.collection.mutable.ArrayBuffer[Any](4)
    var p = 0
    var failed = n == 0
    while (p < n && !failed) {
      var l = math.min(idx.maxLen, n - p)
      var hit = -1
      while (l >= 1 && hit < 0) {
        if (idx.contains(s.substring(p, p + l))) hit = l
        l -= 1
      }
      if (hit < 0) failed = true
      else { out += UTF8String.fromString(s.substring(p, p + hit)); p += hit }
    }
    if (failed) new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array[Any](UTF8String.fromString(idx.unk)))
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

/** `vocab_segment(word string)` → array<string>: greedy longest-match
  * segmentation under a frozen vocabulary, whole-word UNK on failure.
  * The vocabulary ships as a [[VocabIndex]] plan reference object. */
case class VocabSegment(child: Expression, vocab: Seq[String], unk: String)
    extends UnaryExpression {
  @transient private lazy val index: VocabIndex = new VocabIndex(vocab, unk)
  private lazy val childOk: Boolean = child.dataType match {
    case StringType => true
    case other => throw new IllegalArgumentException(
      s"vocab_segment needs a string input, got $other")
  }
  override def dataType: DataType = {
    require(childOk)
    ArrayType(StringType, containsNull = false)
  }
  override def nullSafeEval(input: Any): Any =
    VocabSegmentImpl.apply(input.asInstanceOf[UTF8String], index)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idx = ctx.addReferenceObj("vocabIndex", index,
      "graft.functions.VocabIndex")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VocabSegmentImpl.apply($c, $idx)")
  }
  override protected def withNewChildInternal(newChild: Expression): VocabSegment =
    copy(child = newChild)
  override def prettyName: String = "vocab_segment"
}

/** Continuation-marked vocabulary index — WordPiece proper (r13
  * verdict ask #3), where [[VocabIndex]] was the documented
  * no-marking deviation: the vocabulary distinguishes WORD-INITIAL
  * entries (plain) from CONTINUATION entries (prefixed with `marker`,
  * canonically `##`), and the greedy longest-match consults the
  * initial set at position 0 and the continuation set everywhere
  * else. Emitted continuation pieces KEEP the marker, which is what
  * makes segmentation invertible: detokenization is "strip the
  * marker off non-initial pieces and concatenate" and round-trips
  * every non-UNK word exactly (the q404 law). The two sets may
  * differ — a real WordPiece vocab drops rare continuations — and
  * the kernel honors the asymmetry (BpeSpec pins it against an
  * in-memory reference). Same reference-object shipping and
  * size-independence contract as [[VocabIndex]]. */
final class MarkedVocabIndex(vocab: Seq[String], val unk: String,
    val marker: String) extends Serializable {
  require(unk != null && unk.nonEmpty, "unk token must be non-empty")
  require(marker != null && marker.nonEmpty,
    "continuation marker must be non-empty")
  private val initial = new java.util.HashSet[String]()
  private val cont = new java.util.HashSet[String]()
  val (maxLenInitial, maxLenCont): (Int, Int) = {
    var mi = 0
    var mc = 0
    vocab.foreach { t =>
      require(t != null && t.nonEmpty,
        "vocabulary entries must be non-empty strings")
      if (t.startsWith(marker)) {
        val body = t.substring(marker.length)
        require(body.nonEmpty,
          s"continuation entry '$t' is only the marker")
        cont.add(body)
        if (body.length > mc) mc = body.length
      } else {
        initial.add(t)
        if (t.length > mi) mi = t.length
      }
    }
    require(mi > 0,
      "vocabulary must hold at least one word-initial entry")
    (mi, mc)
  }
  def containsInitial(tok: String): Boolean = initial.contains(tok)
  def containsCont(tok: String): Boolean = cont.contains(tok)
}

/** Greedy longest-match kernel under a [[MarkedVocabIndex]]:
  * position 0 probes the initial set and emits the piece plain;
  * every later position probes the continuation set and emits
  * `marker + piece`. Whole-word UNK when any position is
  * uncoverable. UTF-16 code units, like every tokenizer kernel in
  * the library. */
object VocabSegmentMarkedImpl {
  def apply(word: UTF8String, idx: MarkedVocabIndex): ArrayData = {
    val s = word.toString
    val n = s.length
    val out = new scala.collection.mutable.ArrayBuffer[Any](4)
    var p = 0
    var failed = n == 0
    while (p < n && !failed) {
      val first = p == 0
      var l = math.min(if (first) idx.maxLenInitial else idx.maxLenCont,
        n - p)
      var hit = -1
      while (l >= 1 && hit < 0) {
        val cand = s.substring(p, p + l)
        val ok = if (first) idx.containsInitial(cand)
                 else idx.containsCont(cand)
        if (ok) hit = l
        l -= 1
      }
      if (hit < 0) failed = true
      else {
        val piece = s.substring(p, p + hit)
        out += UTF8String.fromString(
          if (first) piece else idx.marker + piece)
        p += hit
      }
    }
    if (failed) new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array[Any](UTF8String.fromString(idx.unk)))
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

/** `vocab_segment_marked(word string)` → array<string>: WordPiece
  * greedy longest-match with `##`-style continuation marking, under a
  * frozen [[MarkedVocabIndex]] plan reference object. */
case class VocabSegmentMarked(child: Expression, vocab: Seq[String],
    unk: String, marker: String) extends UnaryExpression {
  @transient private lazy val index: MarkedVocabIndex =
    new MarkedVocabIndex(vocab, unk, marker)
  private lazy val childOk: Boolean = child.dataType match {
    case StringType => true
    case other => throw new IllegalArgumentException(
      s"vocab_segment_marked needs a string input, got $other")
  }
  override def dataType: DataType = {
    require(childOk)
    ArrayType(StringType, containsNull = false)
  }
  override def nullSafeEval(input: Any): Any =
    VocabSegmentMarkedImpl.apply(input.asInstanceOf[UTF8String], index)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idx = ctx.addReferenceObj("markedVocabIndex", index,
      "graft.functions.MarkedVocabIndex")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VocabSegmentMarkedImpl.apply($c, $idx)")
  }
  override protected def withNewChildInternal(
      newChild: Expression): VocabSegmentMarked = copy(child = newChild)
  override def prettyName: String = "vocab_segment_marked"
}
