package graft.functions

import java.security.MessageDigest
import java.util.concurrent.ConcurrentHashMap

import graft.plans.FunctionEntry
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native per-row kernels for the embedding-dedup pipeline
  * (ops/EmbeddingDedup): featurization and LSH signatures computed
  * MAP-SIDE, one document per row, instead of via explode → groupBy
  * passes. The round-12 per-stage profile of the 10× stress pipeline
  * showed where the bytes actually went — 639 MB shuffled to count
  * shingles per (doc, bucket), a 205M-row join+partial-agg to project
  * the LSH planes, and 1.37 GB shuffled to deduplicate candidate pairs
  * by groupBy — all three replaceable by per-row arithmetic on data the
  * row already holds. Each kernel is a Catalyst expression with a
  * codegen path (a static call inside whole-stage codegen — the same
  * extension tier as [[DotProductFloat]]), so featurization becomes a
  * NARROW plan: at 100 TB the featurization shuffle is exactly zero
  * bytes regardless of corpus size.
  *
  * Determinism contract: every kernel reproduces, bit for bit, the
  * arithmetic of the declarative pipeline it replaces (md5-hex bucket
  * hashing, ±1 plane signs from [[graft.ops.VectorSearch.planeSigns]],
  * integer-exact projections), so the DuckDB oracle for
  * d07_embedding_near_dup replays unchanged.
  */
object EmbeddingKernels {

  private val md5Local = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  /** Bucket of one shingle: the first 4 md5 hex digits as an integer,
    * mod dim — i.e. the digest's first two bytes. Identical to the SQL
    * spelling `conv(substring(md5(g), 1, 4), 16, 10) % dim` the oracle
    * replays in DuckDB. */
  def bucketOf(bytes: Array[Byte], dim: Int): Int = {
    val md = md5Local.get()
    md.reset()
    val digest = md.digest(bytes)
    (((digest(0) & 0xFF) << 8) | (digest(1) & 0xFF)) % dim
  }

  /** ±1 plane signs for (planes × tables) LSH tables over dim buckets,
    * flattened [t * planes + j][d], bytes for cache locality. Derived
    * from [[graft.ops.VectorSearch.planeSigns]] — the single public
    * definition of the sign matrices — and memoized per geometry. */
  private val signCache =
    new ConcurrentHashMap[(Int, Int, Int), Array[Array[Byte]]]()

  private[functions] def signMatrix(
      planes: Int, tables: Int, dim: Int): Array[Array[Byte]] =
    signCache.computeIfAbsent((planes, tables, dim), { _ =>
      val out = new Array[Array[Byte]](tables * planes)
      var t = 0
      while (t < tables) {
        val signs = graft.ops.VectorSearch.planeSigns(planes, dim, t)
        var j = 0
        while (j < planes) {
          val row = new Array[Byte](dim)
          var d = 0
          while (d < dim) {
            row(d) = if (signs(j)(d) > 0) 1 else -1
            d += 1
          }
          out(t * planes + j) = row
          j += 1
        }
        t += 1
      }
      out
    })

  lazy val functions: Seq[FunctionEntry] = Seq(
    FunctionEntry.native("graft_shingle_hist", 2)(a =>
      ShingleHistogram(a(0), a(1))),
    FunctionEntry.native("graft_lsh_sig", 3)(a =>
      LshSignature(a(0), a(1), a(2))),
    FunctionEntry("graft_lsh_sig_vec", 3, 4, a =>
      LshSignatureVec(a(0), a(1), a(2),
        if (a.length == 4) a(3)
        else org.apache.spark.sql.catalyst.expressions.Literal(-1)),
      "vector, planes, tables[, dim]"),
    FunctionEntry.native("graft_pack_ints", 2)(a => PackInts(a(0), a(1))),
    FunctionEntry.native("graft_sig_match", 3)(a => SigMatch(a(0), a(1), a(2))),
    FunctionEntry.native("graft_lsh_probe_keys", 2)(a =>
      LshProbeKeys(a(0), a(1))),
    FunctionEntry.native("graft_key_in_set", 2)(a =>
      KeyInSortedSet(a(0), a(1))),
    FunctionEntry.native("graft_sig_keep_routed", 5)(a =>
      SigKeepRouted(a(0), a(1), a(2), a(3), a(4))),
  )

  private[functions] def foldableInt(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be a literal integer")
    e.eval(null) match {
      case i: Int => i
      case other => throw new IllegalArgumentException(
        s"$what must be a literal integer, got $other")
    }
  }

  private[functions] def foldableLong(e: Expression, what: String): Long = {
    require(e.foldable, s"$what must be a literal bigint")
    e.eval(null) match {
      case l: Long => l
      case i: Int => i.toLong
      case other => throw new IllegalArgumentException(
        s"$what must be a literal bigint, got $other")
    }
  }

  /** Extract a foldable array<int> literal, defensively sorted so the
    * kernels' binary searches never depend on caller discipline. NULL
    * elements are rejected loudly: the functions are SQL-registered, so
    * a user literal like array(1, CAST(NULL AS INT)) passes the
    * ArrayType(IntegerType, containsNull=true) type check and would
    * otherwise die inside toIntArray with an opaque NPE. */
  private[functions] def foldableSortedInts(e: Expression): Array[Int] = {
    require(e.foldable, "key set must be a literal array<int>")
    val evaled = e.eval(null)
    if (evaled == null) throw new IllegalArgumentException(
      "key set must not be NULL")
    val ad = evaled.asInstanceOf[ArrayData]
    val n = ad.numElements()
    val a = new Array[Int](n)
    var i = 0
    while (i < n) {
      if (ad.isNullAt(i)) throw new IllegalArgumentException(
        "key set must not contain NULL elements")
      a(i) = ad.getInt(i)
      i += 1
    }
    java.util.Arrays.sort(a)
    a
  }
}

/** graft_shingle_hist(shingles, dim): hashed-TF histogram of a distinct
  * shingle array — counts[bucketOf(shingle)] += 1 — as array<smallint>.
  * Counts are exact small integers, so smallint halves the verify-join
  * bytes with bit-identical cosines; a single bucket exceeding 32767
  * (an ~8M-word document) fails loudly rather than wrapping. */
case class ShingleHistogram(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case ArrayType(StringType, _) if right.foldable &&
        right.dataType == IntegerType => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "graft_shingle_hist expects (array<string>, literal int), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  private lazy val dim = EmbeddingKernels.foldableInt(right, "dim")

  override def dataType: DataType = ArrayType(ShortType, containsNull = false)
  override def prettyName: String = "graft_shingle_hist"

  def compute(a: ArrayData): ArrayData = {
    val counts = new Array[Short](dim)
    val n = a.numElements()
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val b = EmbeddingKernels.bucketOf(a.getUTF8String(i).getBytes, dim)
        val c = counts(b) + 1
        if (c > 32767) throw new IllegalStateException(
          s"embedding shingle count overflows smallint: $c")
        counts(b) = c.toShort
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(counts)
  }

  override protected def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingleHist", this, classOf[ShingleHistogram].getName)
    nullSafeCodeGen(ctx, ev, (a, _) => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** graft_lsh_sig(counts, planes, tables): sign-random-projection LSH
  * bucket per table, computed per row — projection_j = Σ_d c[d]·sign,
  * bit j set iff positive — as array<int> of length `tables`. Counts
  * are integers, so the long accumulation equals the declarative
  * double-sum form bit for bit regardless of addition order. */
case class LshSignature(
    first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = first.dataType match {
    case ArrayType(ShortType, _) if second.foldable && third.foldable &&
        second.dataType == IntegerType && third.dataType == IntegerType =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "graft_lsh_sig expects (array<smallint>, literal int, literal int), " +
        s"got ${first.dataType.simpleString}")
  }

  private lazy val planes = EmbeddingKernels.foldableInt(second, "planes")
  private lazy val tables = EmbeddingKernels.foldableInt(third, "tables")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_lsh_sig"

  def compute(v: ArrayData): ArrayData = {
    require(planes > 0 && planes < 31, s"planes must be in [1, 30]: $planes")
    val dim = v.numElements()
    val signs = EmbeddingKernels.signMatrix(planes, tables, dim)
    val out = new Array[Int](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0
      var j = 0
      while (j < planes) {
        val row = signs(t * planes + j)
        var p = 0L
        var d = 0
        while (d < dim) {
          p += v.getShort(d) * row(d)
          d += 1
        }
        if (p > 0) bucket |= 1 << j
        j += 1
      }
      out(t) = bucket
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any =
    compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lshSig", this, classOf[LshSignature].getName)
    nullSafeCodeGen(ctx, ev, (a, _, _) => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** graft_lsh_sig_vec(vec, planes, tables): the [[LshSignature]] family
  * for FLOAT/DOUBLE vectors (r16) — the native form of
  * [[graft.ops.VectorSearch.bucketOf]]'s declarative
  * aggregate(zip_with(v, plane, (p, q) -> CAST(p AS DOUBLE) * q), …)
  * spelling, which Catalyst evaluates interpreted (two nested HOF
  * lambdas per (row, plane)). Bit-identical: the same left-to-right
  * double accumulation (multiplying by the ±1 sign is an exact
  * negation), the same `> 0` bit test, the same
  * [[graft.ops.VectorSearch.planeSigns]] matrices via
  * [[EmbeddingKernels.signMatrix]]. */
case class LshSignatureVec(
    first: Expression, second: Expression, third: Expression,
    fourth: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = first.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _)
        if second.foldable && third.foldable && fourth.foldable &&
          second.dataType == IntegerType && third.dataType == IntegerType &&
          fourth.dataType == IntegerType =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "graft_lsh_sig_vec expects (array<float|double>, literal int, " +
        s"literal int[, literal int dim]), got ${first.dataType.simpleString}")
  }

  private lazy val planes = EmbeddingKernels.foldableInt(second, "planes")
  private lazy val tables = EmbeddingKernels.foldableInt(third, "tables")
  // expected vector length; < 0 means "derive per row" (the 3-arg SQL
  // form). Pipeline callers pass their configured dim so a stray vector
  // of a different length FAILS instead of silently bucketing under an
  // unintended plane geometry (and growing signMatrix's cache unbounded
  // — ADVICE r16).
  private lazy val expectDim = EmbeddingKernels.foldableInt(fourth, "dim")
  private def isFloat: Boolean = first.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_lsh_sig_vec"

  def compute(v: ArrayData): ArrayData = {
    require(planes > 0 && planes < 31, s"planes must be in [1, 30]: $planes")
    val dim = v.numElements()
    require(expectDim < 0 || dim == expectDim,
      s"graft_lsh_sig_vec: vector length $dim != configured dim $expectDim")
    val out = new Array[Int](tables)
    // a null element poisons every plane's dot product (the declarative
    // aggregate/zip_with form propagates NULL through the running sum,
    // and `d > 0` over NULL is false) — ALL buckets collapse to 0. Keep
    // that exact semantics rather than unboxing null to 0.0 silently.
    var hasNull = false
    var d0 = 0
    while (d0 < dim && !hasNull) { hasNull = v.isNullAt(d0); d0 += 1 }
    if (hasNull) return UnsafeArrayData.fromPrimitiveArray(out)
    val signs = EmbeddingKernels.signMatrix(planes, tables, dim)
    val fl = isFloat
    var t = 0
    while (t < tables) {
      var bucket = 0
      var j = 0
      while (j < planes) {
        val row = signs(t * planes + j)
        var p = 0.0
        var d = 0
        while (d < dim) {
          val x = if (fl) v.getFloat(d).toDouble else v.getDouble(d)
          p += (if (row(d) > 0) x else -x)
          d += 1
        }
        if (p > 0) bucket |= 1 << j
        j += 1
      }
      out(t) = bucket
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lshSigVec", this, classOf[LshSignatureVec].getName)
    nullSafeCodeGen(ctx, ev, (a, _, _, _) => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird,
      fourth = newFourth)
}

/** graft_pack_ints(arr, width): array<int> → binary, `width` (2 or 4)
  * bytes little-endian per element. The packed form rides the candidate
  * join as the per-row signature payload; at ≤16 planes every bucket id
  * fits two bytes, halving the dominant probe-side shuffle (the 40×
  * stress point measured the 4-byte form at 6 GB/run). Width-2 packing
  * of a value outside [0, 65535] fails loudly. */
case class PackInts(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case ArrayType(IntegerType, _) if right.foldable &&
        right.dataType == IntegerType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_pack_ints expects (array<int>, literal width), got " +
        s"${other.simpleString}")
  }

  private lazy val width = {
    val w = EmbeddingKernels.foldableInt(right, "width")
    require(w == 2 || w == 4, s"pack width must be 2 or 4, got $w")
    w
  }

  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_pack_ints"

  def compute(a: ArrayData): Array[Byte] = {
    val n = a.numElements()
    val out = new Array[Byte](width * n)
    var i = 0
    while (i < n) {
      val v = a.getInt(i)
      if (width == 2) {
        if (v < 0 || v > 0xFFFF) throw new IllegalStateException(
          s"signature $v does not fit 2-byte packing")
        out(2 * i) = v.toByte
        out(2 * i + 1) = (v >>> 8).toByte
      } else {
        out(4 * i) = v.toByte
        out(4 * i + 1) = (v >>> 8).toByte
        out(4 * i + 2) = (v >>> 16).toByte
        out(4 * i + 3) = (v >>> 24).toByte
      }
      i += 1
    }
    out
  }

  override protected def nullSafeEval(v: Any, w: Any): Any =
    compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("packInts", this, classOf[PackInts].getName)
    nullSafeCodeGen(ctx, ev, (a, _) => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** graft_sig_match(sig1, sig2, width): compare two packed LSH signature
  * vectors table by table. A table AGREES when its buckets are within
  * hamming distance 1 (exactly the reach of 1-bit multiprobe). Returns
  * `(totalBitHamming << 16) | (agreeCount << 8) | firstAgreeingTable` —
  * one int carrying three map-side decisions for a matched candidate
  * row: (a) agreement strength-filtering, (b) exact-once dedup (row
  * table == canonical first agreeing table) replacing the
  * candidate-dedup groupBy the 10× stress profile measured at 1.37 GB
  * of shuffle, and (c) a COSINE ESTIMATE — the buckets are
  * planes×tables INDEPENDENT sign-projection bits, so totalBitHamming/B
  * estimates angle/π with binomial error sqrt(f(1-f)/B), which the
  * caller turns into a conservative pre-verify filter (the 40× stress
  * profile measured 9.2 GB of dense vectors shipped for sub-threshold
  * candidate pairs that 322 sign bits already rule out). */
case class SigMatch(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType) match {
      case (BinaryType, BinaryType) if third.foldable &&
          third.dataType == IntegerType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_sig_match expects (binary, binary, literal width), got $other")
    }

  private lazy val width = {
    val w = EmbeddingKernels.foldableInt(third, "width")
    require(w == 2 || w == 4, s"pack width must be 2 or 4, got $w")
    w
  }

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_sig_match"

  def compute(b1: Array[Byte], b2: Array[Byte]): Int = {
    val n = math.min(b1.length, b2.length) / width
    var agree = 0
    var tMin = 0xFF
    var hamming = 0
    var t = 0
    while (t < n) {
      val s1 =
        if (width == 2) (b1(2 * t) & 0xFF) | ((b1(2 * t + 1) & 0xFF) << 8)
        else (b1(4 * t) & 0xFF) | ((b1(4 * t + 1) & 0xFF) << 8) |
          ((b1(4 * t + 2) & 0xFF) << 16) | ((b1(4 * t + 3) & 0xFF) << 24)
      val s2 =
        if (width == 2) (b2(2 * t) & 0xFF) | ((b2(2 * t + 1) & 0xFF) << 8)
        else (b2(4 * t) & 0xFF) | ((b2(4 * t + 1) & 0xFF) << 8) |
          ((b2(4 * t + 2) & 0xFF) << 16) | ((b2(4 * t + 3) & 0xFF) << 24)
      val h = Integer.bitCount(s1 ^ s2)
      hamming += h
      if (h <= 1) {
        agree += 1
        if (tMin == 0xFF) tMin = t
      }
      t += 1
    }
    (math.min(hamming, 0xFFFF) << 16) | (agree << 8) | tMin
  }

  override protected def nullSafeEval(l: Any, r: Any, w: Any): Any =
    compute(l.asInstanceOf[Array[Byte]], r.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sigMatch", this, classOf[SigMatch].getName)
    nullSafeCodeGen(ctx, ev, (a, b, _) => s"${ev.value} = $ref.compute($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** graft_lsh_probe_keys(sigs, params): the candidate join's per-document
  * key array in ONE kernel call, packed as (table << planes) | bucket
  * (one Generate, no (table, bucket) intermediate rows). `params` packs
  * planes | side << 8:
  *
  *  - side 1 — the probe side: own + ZERO-bit flips per table. A
  *    hamming-1 pair differs in exactly one bit position, so exactly
  *    one doc holds a 0 there and probes INTO the other's cell — every
  *    hamming≤1 pair still collides in every agreeing table, while the
  *    probe fan-out is 1+zeros(bucket) (≈ 1+planes/2: buckets are
  *    uniform hash bits) instead of 1+planes for all flips. The keep
  *    kernel ([[SigKeepRouted]]) relies on this one-direction shape to
  *    keep each pair exactly once;
  *  - side 2 — the build side: own keys only (tables keys).
  *
  * Any other side value fails: flipping ONE-bits as well would emit
  * both directions of a hamming-1 pair, which the keep kernel would
  * then report twice.
  */
case class LshProbeKeys(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, false), IntegerType) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        "graft_lsh_probe_keys expects (array<int> containsNull=false, " +
          s"literal int params), got $other")
    }

  private lazy val params = EmbeddingKernels.foldableInt(right, "params")
  private lazy val planes = {
    val p = params & 0xFF
    require(p > 0 && p <= 30, s"planes must be in [1, 30], got $p")
    p
  }
  private lazy val probeSide = {
    val m = (params >> 8) & 0xFF
    require(m == 1 || m == 2, "graft_lsh_probe_keys side must be 1 " +
      s"(probe: own + zero-bit flips) or 2 (build: own keys), got $m")
    m == 1
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_lsh_probe_keys"

  def compute(sigs: ArrayData): ArrayData = {
    val tables = sigs.numElements()
    val p = planes
    val probe = probeSide
    var n = tables
    if (probe) {
      var t0 = 0
      while (t0 < tables) {
        n += p - Integer.bitCount(sigs.getInt(t0))
        t0 += 1
      }
    }
    val out = new Array[Int](n)
    var k = 0
    var t = 0
    while (t < tables) {
      val b = sigs.getInt(t)
      val base = t << p
      out(k) = base | b; k += 1
      if (probe) {
        var j = 0
        while (j < p) {
          if (((b >> j) & 1) == 0) { out(k) = base | (b | (1 << j)); k += 1 }
          j += 1
        }
      }
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("probeKeys", this, classOf[LshProbeKeys].getName)
    nullSafeCodeGen(ctx, ev, (a, _) => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** graft_key_in_set(key, keySet): membership of an int key in a foldable
  * int-array literal via binary search — O(log |set|) per row where
  * `array_contains` on the same literal is O(|set|). Used by the
  * occupancy-capped embedding-dedup pipeline to drop candidate routes
  * through over-occupied (table, bucket) cells on BOTH join sides before
  * any shuffle: the probe key and the build key of a suppressed cell are
  * filtered by the same set, so a route either fully exists or fully
  * doesn't (the invariant [[SigKeepRouted]]'s canonical-owner rule
  * relies on). The set is extracted (and defensively sorted) once per
  * executor from the literal child. */
case class KeyInSortedSet(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (IntegerType, ArrayType(IntegerType, _)) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_key_in_set expects (int, foldable array<int>), got $other")
    }

  @transient private lazy val keys: Array[Int] =
    EmbeddingKernels.foldableSortedInts(right)

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_key_in_set"

  def compute(k: Int): Boolean =
    java.util.Arrays.binarySearch(keys, k) >= 0

  override protected def nullSafeEval(k: Any, s: Any): Any =
    compute(k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("keyInSet", this, classOf[KeyInSortedSet].getName)
    nullSafeCodeGen(ctx, ev, (k, _) => s"${ev.value} = $ref.compute($k);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** graft_sig_keep_routed(sig1, sig2, routed, hotKeys, params): the fused
  * keep/drop decision for one matched candidate row of the embedding
  * dedup join — equivalent to evaluating [[SigMatch]] and testing
  * `agreeCount >= minAgree AND totalBitHamming <= hMax AND this row is
  * the pair's canonical owner`, with the structural EARLY EXITS that
  * composition cannot express:
  *  - hamming accumulates monotonically, so the row is dead the moment
  *    the running total crosses hMax — a random pair (the bulk: the 40×
  *    stress point feeds 1.38e9 matched rows into this decision to keep
  *    3.8e5) accrues ~planes/2 bits per table and exits ~1/3 early;
  *  - an existing route at an agreeing table BEFORE rowTable means an
  *    earlier-table row owns the pair — exit without scanning the rest.
  *
  * The row universe it decides over (built by EmbeddingDedup): the
  * probe side emits own + ZERO-bit flip keys ([[LshProbeKeys]] side 1),
  * the build side own keys only, and routes through over-occupied
  * (table, bucket) cells in `hotKeys` are dropped on BOTH sides by the
  * same [[KeyInSortedSet]] filter. At a hamming-1 table the pair's
  * buckets differ in one bit, so exactly ONE direction's row exists —
  * the one whose probe doc holds the 0 (it probes into the 1-holder's
  * cell), and it exists iff that cell is live. At a hamming-0 table
  * both docs share one cell and both directions exist iff it is live.
  *
  * Decision (row = probe doc P ⋈ build doc B at table rowT):
  *  - agreement = #tables with bucket-hamming ≤ 1 (signature-only, hot
  *    or not) must reach minAgree; total bit-hamming must stay ≤ hMax;
  *  - the canonical table t* is the FIRST agreeing table with an
  *    existing route (a pair with none produces no rows at all —
  *    consistently unreported);
  *  - within t*: a hamming-1 row is the table's unique direction and
  *    owns the pair outright; at hamming 0 the owner is the row whose
  *    build doc is the larger id (id1 < id2). Exactly one row per pair
  *    survives; the caller normalizes it with least/greatest.
  *
  * Why suppression needs the routed rule (BASELINE.md round 14, the
  * 100× probe): natural-text hashed-TF vectors share a cone, so some
  * sign-LSH cells stay dense at any corpus size — per-(table,bucket)
  * occupancy at 100× averaged the geometry target 16.9 but p99 = 143 /
  * max = 1812, making Σocc² (= matched candidate rows) ~4× the uniform
  * model. Capping occupancy removes that tail; moving the liveness
  * check INTO the canonical choice keeps every pair that still has a
  * live agreeing route. Both docs' per-table buckets are already in the
  * packed signatures, so liveness costs zero extra shuffled bytes.
  *
  * PRECONDITION: a matched row certifies hamming(rowT) ≤ 1 and that the
  * build doc's bucket at rowT is live; the kernel exploits it to decide
  * the bulk case (a random pair agreeing only in its own table, probe
  * id smaller) with zero hot-set searches. Rows violating it (never
  * produced by EmbeddingDedup) may be kept in the wrong direction.
  *
  * With an empty hot set the kept rows are exactly the composed
  * `SigMatch` filters (first agreeing table == rowT, minAgree, hMax)
  * gated by `id1 < id2` at hamming-0 rows — pinned by the equivalence
  * sweeps in EmbeddingKernelsSpec and SigKeepRoutedSpec. `routed` packs
  * (rowTable << 1) | (id1 < id2); `params` packs width | minAgree<<8 |
  * hMax<<16 | planes<<32 as one bigint literal (planes sizes the
  * (table << planes) | bucket key the hot set is expressed in). */
case class SigKeepRouted(
    first: Expression, second: Expression, third: Expression,
    fourth: Expression, fifth: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuinaryExpression {

  override def children: Seq[Expression] =
    Seq(first, second, third, fourth, fifth)

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType, fourth.dataType) match {
      case (BinaryType, BinaryType, IntegerType, ArrayType(IntegerType, _))
          if fourth.foldable && fifth.foldable &&
            fifth.dataType == LongType =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        "graft_sig_keep_routed expects (binary, binary, int, foldable " +
          s"array<int>, literal bigint params), got $other")
    }

  @transient private lazy val hot: Array[Int] =
    EmbeddingKernels.foldableSortedInts(fourth)
  private lazy val params = EmbeddingKernels.foldableLong(fifth, "params")
  private lazy val width = {
    val w = (params & 0xFF).toInt
    require(w == 2 || w == 4, s"pack width must be 2 or 4, got $w")
    w
  }
  private lazy val minAgree = ((params >> 8) & 0xFF).toInt
  private lazy val hMax = ((params >> 16) & 0xFFFF).toInt
  private lazy val planes = {
    val p = ((params >> 32) & 0xFF).toInt
    // the pipeline's own key-width require (planes + log2(tables) <= 31)
    // is the governing bound; this only rejects nonsense packings
    require(p > 0 && p <= 30, s"planes must be in [1, 30], got $p")
    p
  }

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_sig_keep_routed"

  private def live(t: Int, bucket: Int): Boolean =
    java.util.Arrays.binarySearch(hot, (t << planes) | bucket) < 0

  /** Does ANY row exist for this pair at agreeing table t (the
    * canonical-owner scan's existence test)? A hamming-0 table routes
    * through the shared cell, a hamming-1 table only through the
    * 1-holder's cell. Only called when anyHot. */
  private def routeExists(t: Int, s1: Int, s2: Int): Boolean =
    live(t, if ((s1 & (s1 ^ s2)) != 0) s1 else s2)

  private def unpack(b: Array[Byte], t: Int): Int =
    if (width == 2) (b(2 * t) & 0xFF) | ((b(2 * t + 1) & 0xFF) << 8)
    else (b(4 * t) & 0xFF) | ((b(4 * t + 1) & 0xFF) << 8) |
      ((b(4 * t + 2) & 0xFF) << 16) | ((b(4 * t + 3) & 0xFF) << 24)

  def compute(b1: Array[Byte], b2: Array[Byte], routed: Int): Boolean = {
    val rowT = routed >>> 1
    val probeSmaller = (routed & 1) == 1
    val n = math.min(b1.length, b2.length) / width
    val w = width
    val cap = hMax
    val anyHot = hot.length > 0
    // Fast own-table pre-check: the BULK matched row is a random pair
    // meeting at its own table (hamming 0) in the wrong direction; the
    // kernel decides direction, so without this check every such row
    // pays the full accumulation loop. The ownership decision at rowT
    // does not depend on the other tables, so evaluating it FIRST is a
    // pure evaluation-order change: a row that cannot own the pair at
    // its own table returns false either way (the loop's t == rowT
    // branch or its h > cap exit both yield false). Hamming-1 rows own
    // outright and skip this.
    if (!probeSmaller && rowT < n) {
      val s1r = unpack(b1, rowT)
      if (s1r == unpack(b2, rowT) && !(anyHot && !live(rowT, s1r)))
        return false
    }
    var h = 0
    var agree = 0
    // the ownership decision is made exactly once, at the first agreeing
    // table with a live route; every "not this row" outcome exits early,
    // so reaching the end with owned = true means rowT is canonical
    var owned = false
    var t = 0
    while (t < n) {
      val s1 =
        if (w == 2) (b1(2 * t) & 0xFF) | ((b1(2 * t + 1) & 0xFF) << 8)
        else (b1(4 * t) & 0xFF) | ((b1(4 * t + 1) & 0xFF) << 8) |
          ((b1(4 * t + 2) & 0xFF) << 16) | ((b1(4 * t + 3) & 0xFF) << 24)
      val s2 =
        if (w == 2) (b2(2 * t) & 0xFF) | ((b2(2 * t + 1) & 0xFF) << 8)
        else (b2(4 * t) & 0xFF) | ((b2(4 * t + 1) & 0xFF) << 8) |
          ((b2(4 * t + 2) & 0xFF) << 16) | ((b2(4 * t + 3) & 0xFF) << 24)
      val ht = Integer.bitCount(s1 ^ s2)
      h += ht
      if (h > cap) return false
      if (ht <= 1) {
        agree += 1
        if (!owned) {
          // PRECONDITION the filters guarantee: this row exists, so the
          // BUILD doc's bucket at rowT is live — at t == rowT the
          // canonical test (live1 || live2) is TRUE without searching.
          // The bulk case (a random pair agreeing only in its own table,
          // probeSmaller) therefore decides with ZERO searches.
          if (t < rowT) {
            // an existing route BEFORE rowT means an earlier table's row
            // canonically owns the pair — exit without scanning the rest
            if (!anyHot || routeExists(t, s1, s2)) return false
            // no reachable live route here: not a valid canonical
            // table, keep looking
          } else if (t == rowT) {
            // the canonical direction. A hamming-1 row is the table's
            // UNIQUE direction — owning it outright is what keeps the
            // pair exactly-once (the opposite direction was never
            // emitted). Hamming 0: id1 < id2 when both directions exist;
            // otherwise build = larger id iff the larger id's bucket
            // here is live (sig1 is always the PROBE doc's, sig2 the
            // BUILD doc's; probeSmaller says which id is larger; live2 =
            // true by the precondition).
            owned =
              if (s1 != s2) true // unique direction
              else if (probeSmaller) true // larger = build, live here
              else anyHot && !live(t, s1) // larger = probe: owned iff hot
            if (!owned) return false // decision is final: not this row
          } else {
            // t > rowT and still undecided: rowT's table did not
            // actually agree (synthetic input) — any existing later
            // route means some other row owns the pair, never rowT
            if (!anyHot || routeExists(t, s1, s2)) return false
          }
        }
      }
      t += 1
    }
    owned && agree >= minAgree
  }

  override def nullSafeEval(
      a: Any, b: Any, c: Any, d: Any, e: Any): Any =
    compute(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]],
      c.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sigKeepRouted", this,
      classOf[SigKeepRouted].getName)
    nullSafeCodeGen(ctx, ev,
      (a, b, c, _, _) => s"${ev.value} = $ref.compute($a, $b, $c);")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(first = newChildren(0), second = newChildren(1),
      third = newChildren(2), fourth = newChildren(3),
      fifth = newChildren(4))
}
