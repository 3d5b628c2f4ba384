package graft.functions

import graft.plans.FunctionEntry
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused native kernels for the shingle/gram hot loops of the dedup and
  * text pipelines (optimization round r16, guide §1.2 step 2: per-task
  * work). The declarative forms they replace are built from HIGHER-ORDER
  * functions — `transform`, `array_min`, nested lambdas — which Catalyst
  * evaluates INTERPRETED (HigherOrderFunction does not participate in
  * whole-stage codegen): every element pays lambda dispatch plus
  * boxing, and the per-position `substring(text, i, 3)` spelling of
  * character grams re-scans the string from the start on every call —
  * O(len²) bytes touched per document. Each kernel here computes the
  * SAME VALUES (asserted element-for-element by TextKernelsSpec against
  * the expression forms they replace, over the fixture corpus plus
  * adversarial cases) in one primitive pass inside whole-stage codegen.
  *
  * Exactness is by construction, not re-derivation: tokenization calls
  * the SAME `UTF8String.split` that Spark's `split(text, ' ')` lowers
  * to, shingles are assembled with `UTF8String.concat` exactly like the
  * `concat(w[i], '_', …)` expression, and hashes call the SAME
  * catalyst XXH64 (seed 42, same per-type fold order) that `xxhash64`
  * lowers to — so every downstream artifact (MinHash signatures, band
  * keys, LSH buckets, md5 histogram buckets) is bit-identical and the
  * DuckDB oracles replay unchanged.
  */
object TextKernels {

  lazy val functions: Seq[FunctionEntry] = Seq(
    FunctionEntry.native("graft_word_shingles", 1)(a => WordShingles(a(0))),
    FunctionEntry.native("graft_xxhash64_arr", 1)(a => XxHash64Array(a(0))),
    FunctionEntry.native("graft_minhash_sig", 2)(a => MinHashSig(a(0), a(1))),
    FunctionEntry.native("graft_lsh_bands", 2)(a => LshBands(a(0), a(1))),
    FunctionEntry.native("graft_shingle_hist_text", 2)(a =>
      ShingleHistText(a(0), a(1))),
    FunctionEntry.native("graft_char_grams", 1)(a => CharGrams(a(0))),
    FunctionEntry.native("graft_char_gram_set", 1)(a => CharGramSet(a(0))),
    FunctionEntry.native("graft_word_grams", 2)(a => WordGrams(a(0), a(1))),
  )

  private val Sep = UTF8String.fromString(" ")
  private val Under = UTF8String.fromString("_")
  private val Empty = UTF8String.fromString("")

  /** Distinct word-trigram shingles of a text, first-occurrence order —
    * the exact value of [[graft.ops.MinHashLSH.shingles]]'s expression
    * form: tokens from `UTF8String.split(" ", -1)` (what Spark's
    * split(text, ' ') calls), shingle i (1-based, 1..max(n-2, 1)) =
    * w(i) ++ '_' ++ (w(i+1)|'') ++ '_' ++ (w(i+2)|''), distinct keeping
    * first occurrences (array_distinct semantics). */
  def wordShingles(text: UTF8String): Array[UTF8String] = {
    val ws = text.split(Sep, -1)
    val n = ws.length
    val m = math.max(n - 2, 1)
    val seen = new java.util.LinkedHashSet[UTF8String](m * 2)
    var i = 0
    while (i < m) {
      val a = ws(i)
      val b = if (i + 1 < n) ws(i + 1) else Empty
      val c = if (i + 2 < n) ws(i + 2) else Empty
      seen.add(UTF8String.concat(a, Under, b, Under, c))
      i += 1
    }
    seen.toArray(new Array[UTF8String](seen.size))
  }

  /** All character trigrams by code point, empty below 3 chars — the
    * exact value of x06's guarded substring/transform expression (see
    * [[CharGrams]]). One O(len) pass over the code-point offsets. */
  def charGrams(t: UTF8String): Array[UTF8String] = {
    val bytes = t.getBytes
    val nBytes = bytes.length
    val offsets = new Array[Int](nBytes + 1)
    var nChars = 0
    var off = 0
    while (off < nBytes) {
      offsets(nChars) = off
      off += UTF8String.numBytesForFirstByte(bytes(off))
      nChars += 1
    }
    offsets(nChars) = nBytes
    if (nChars < 3) return new Array[UTF8String](0)
    val out = new Array[UTF8String](nChars - 2)
    var i = 0
    while (i < nChars - 2) {
      val s = offsets(i)
      out(i) = UTF8String.fromBytes(bytes, s, offsets(i + 3) - s)
      i += 1
    }
    out
  }
}

/** graft_word_shingles(text): distinct word-trigram shingles as
  * array<string> — the native form of [[graft.ops.MinHashLSH.shingles]]
  * (see [[TextKernels.wordShingles]] for the exact contract). */
case class WordShingles(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_word_shingles expects a string, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_shingles"

  def compute(t: UTF8String): ArrayData =
    new GenericArrayData(TextKernels.wordShingles(t).asInstanceOf[Array[Any]])

  override protected def nullSafeEval(t: Any): Any =
    compute(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordShingles", this, classOf[WordShingles].getName)
    nullSafeCodeGen(ctx, ev, t => s"${ev.value} = $ref.compute($t);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** graft_xxhash64_arr(array<string>): per-element xxhash64 (seed 42) as
  * array<bigint> — the native form of `transform(a, s -> xxhash64(s))`,
  * calling the same catalyst XXH64.hashUTF8String. NULL elements keep
  * xxhash64's skip-null semantics (hash = seed). */
case class XxHash64Array(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_xxhash64_arr expects array<string>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_xxhash64_arr"

  def compute(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (a.isNullAt(i)) 42L
        else XXH64.hashUTF8String(a.getUTF8String(i), 42L)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def nullSafeEval(a: Any): Any =
    compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("xxhashArr", this, classOf[XxHash64Array].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** graft_minhash_sig(hashes, numHashes): MinHash signature as
  * array<bigint>, sig[i] = min over h of xxhash64(h, i) — the native
  * form of [[graft.ops.MinHashLSH.signature]]'s nested
  * transform/array_min lambdas. xxhash64(h:bigint, i:int) folds as
  * hashInt(i, hashLong(h, 42)); hashLong(h, 42) does not depend on i,
  * so it is computed ONCE per element here (same values, numHashes×
  * fewer long-hash rounds). An empty hash array yields sig[i] =
  * hashInt(i, 42)?  No — array_min of an empty array is NULL; the
  * declarative form never produces one because shingles() emits ≥1
  * shingle for any non-null text, so an empty input is a contract
  * violation and fails loudly. A NULL element fails the row the same
  * way: its slot would otherwise read as 0L and hash silently
  * differently from xxhash64's documented skip-null semantics. The
  * pipeline input ([[XxHash64Array]]) is containsNull=false, but a SQL
  * caller's array<bigint> (a literal, a parquet column) usually is not,
  * so the check is per row, not per type. */
case class MinHashSig(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case ArrayType(LongType, _) if right.foldable &&
        right.dataType == IntegerType => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "graft_minhash_sig expects (array<bigint>, literal int), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  private lazy val numHashes =
    EmbeddingKernels.foldableInt(right, "numHashes")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"

  def compute(a: ArrayData): ArrayData = {
    val n = a.numElements()
    require(n > 0, "graft_minhash_sig: empty hash array")
    val inner = new Array[Long](n)
    var m = 0
    while (m < n) {
      if (a.isNullAt(m)) throw new IllegalArgumentException(
        s"graft_minhash_sig: NULL hash at index ${m + 1}; the hash array " +
          "must not contain NULL elements")
      inner(m) = XXH64.hashLong(a.getLong(m), 42L)
      m += 1
    }
    val sig = new Array[Long](numHashes)
    var i = 0
    while (i < numHashes) {
      var best = Long.MaxValue
      var j = 0
      while (j < n) {
        val h = XXH64.hashInt(i, inner(j))
        if (h < best) best = h
        j += 1
      }
      sig(i) = best
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  override protected def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashSig", this, classOf[MinHashSig].getName)
    nullSafeCodeGen(ctx, ev, (a, _) => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** graft_lsh_bands(sig, rowsPerBand): banded LSH keys as
  * array<struct<band_idx:int, band_val:bigint>> — the native form of
  * the transform in [[graft.ops.MinHashLSH.candidatePairs]]: band j's
  * value is xxhash64(sig[rb·j+1], …, sig[rb·j+rb], j), folded exactly
  * like the expression (seed 42, hashLong per signature element in
  * order, hashInt(j) last). */
case class LshBands(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case ArrayType(LongType, _) if right.foldable &&
        right.dataType == IntegerType => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "graft_lsh_bands expects (array<bigint>, literal int), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  private lazy val rowsPerBand =
    EmbeddingKernels.foldableInt(right, "rowsPerBand")

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("band_idx", IntegerType, nullable = false),
      StructField("band_val", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_lsh_bands"

  def compute(a: ArrayData): ArrayData = {
    val numBands = a.numElements() / rowsPerBand
    val out = new Array[Any](numBands)
    var j = 0
    while (j < numBands) {
      var h = 42L
      var r = 0
      while (r < rowsPerBand) {
        h = XXH64.hashLong(a.getLong(rowsPerBand * j + r), h)
        r += 1
      }
      h = XXH64.hashInt(j, h)
      out(j) = org.apache.spark.sql.catalyst.InternalRow(j, h)
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lshBands", this, classOf[LshBands].getName)
    nullSafeCodeGen(ctx, ev, (a, _) => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** graft_shingle_hist_text(text, dim): the d07 featurization fused into
  * ONE call — distinct word-trigram shingles (exactly
  * [[TextKernels.wordShingles]]) bucketed by their first 4 md5 hex
  * digits mod dim (exactly [[EmbeddingKernels.bucketOf]]) into an
  * array<smallint> histogram. Replaces
  * `graft_shingle_hist(shingles(text), dim)` without materializing the
  * shingle string array between the two. */
case class ShingleHistText(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case StringType if right.foldable && right.dataType == IntegerType =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "graft_shingle_hist_text expects (string, literal int), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  private lazy val dim = EmbeddingKernels.foldableInt(right, "dim")

  override def dataType: DataType = ArrayType(ShortType, containsNull = false)
  override def prettyName: String = "graft_shingle_hist_text"

  def compute(t: UTF8String): ArrayData = {
    val shingles = TextKernels.wordShingles(t)
    val counts = new Array[Short](dim)
    var i = 0
    while (i < shingles.length) {
      val b = EmbeddingKernels.bucketOf(shingles(i).getBytes, dim)
      val c = counts(b) + 1
      if (c > 32767) throw new IllegalStateException(
        s"embedding shingle count overflows smallint: $c")
      counts(b) = c.toShort
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(counts)
  }

  override protected def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingleHistText", this,
      classOf[ShingleHistText].getName)
    nullSafeCodeGen(ctx, ev, (t, _) => s"${ev.value} = $ref.compute($t);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** graft_char_gram_set(text): DISTINCT character trigrams in
  * first-occurrence order — the native form of
  * `array_distinct(<the graft_char_grams expression>)`. Exploding this
  * yields rows already distinct per document, which lets a caller whose
  * gram rows carry a unique document id drop a global `.distinct()`
  * (and its exchange) outright: per-doc distinct == global distinct
  * when the id is unique (x06's test branch). */
case class CharGramSet(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_char_gram_set expects a string, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_char_gram_set"

  def compute(t: UTF8String): ArrayData = {
    val all = TextKernels.charGrams(t)
    val seen = new java.util.LinkedHashSet[UTF8String](all.length * 2)
    var i = 0
    while (i < all.length) {
      seen.add(all(i))
      i += 1
    }
    new GenericArrayData(
      seen.toArray(new Array[UTF8String](seen.size)).asInstanceOf[Array[Any]])
  }

  override protected def nullSafeEval(t: Any): Any =
    compute(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("charGramSet", this, classOf[CharGramSet].getName)
    nullSafeCodeGen(ctx, ev, t => s"${ev.value} = $ref.compute($t);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** graft_word_grams(text, n): ALL word n-grams joined by single spaces,
  * empty when the text has fewer than n words — the native form of
  * x09's `transform(sequence(1, size(words) - n + 1),
  * i -> concat_ws(' ', slice(words, i, n)))` over
  * `words = split(text, ' ')`. KEY IDENTITY: splitting on every single
  * 0x20 byte and rejoining a slice with single spaces reconstructs the
  * ORIGINAL byte span from the start of word i to the end of word
  * i+n−1 (consecutive spaces become empty words which rejoin as the
  * same consecutive spaces) — so each gram is a zero-copy byte-range
  * view, no per-gram string assembly at all. */
case class WordGrams(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case StringType if right.foldable && right.dataType == IntegerType =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "graft_word_grams expects (string, literal int), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  private lazy val n = {
    val v = EmbeddingKernels.foldableInt(right, "n")
    require(v >= 1, s"graft_word_grams: n must be >= 1, got $v")
    v
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_grams"

  def compute(t: UTF8String): ArrayData = {
    val bytes = t.getBytes
    val nBytes = bytes.length
    // word-start offsets: one word before every ' ' boundary + the last
    var words = 1
    var i = 0
    while (i < nBytes) { if (bytes(i) == ' '.toByte) words += 1; i += 1 }
    if (words < n) return new GenericArrayData(new Array[Any](0))
    val starts = new Array[Int](words + 1)
    var w = 1
    i = 0
    while (i < nBytes) {
      if (bytes(i) == ' '.toByte) { starts(w) = i + 1; w += 1 }
      i += 1
    }
    starts(words) = nBytes + 1 // virtual separator past the end
    val out = new Array[Any](words - n + 1)
    i = 0
    while (i < words - n + 1) {
      val s = starts(i)
      // gram ends one byte before word (i+n)'s separator-start
      out(i) = UTF8String.fromBytes(bytes, s, starts(i + n) - 1 - s)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordGrams", this, classOf[WordGrams].getName)
    nullSafeCodeGen(ctx, ev, (t, _) => s"${ev.value} = $ref.compute($t);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** graft_char_grams(text): ALL character trigrams (not distinct) as
  * array<string>, empty when the text is shorter than 3 chars — the
  * native form of x06's guarded gram expression
  * `case when length(text) < 3 then array() else
  *   transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))
  * end`. The expression form re-scans the string per position
  * (substring is O(position) on UTF-8 bytes — O(len²) per document);
  * this kernel walks the code-point offsets once and emits byte-range
  * views, O(len). */
case class CharGrams(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_char_grams expects a string, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_char_grams"

  def compute(t: UTF8String): ArrayData =
    new GenericArrayData(TextKernels.charGrams(t).asInstanceOf[Array[Any]])

  override protected def nullSafeEval(t: Any): Any =
    compute(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("charGrams", this, classOf[CharGrams].getName)
    nullSafeCodeGen(ctx, ev, t => s"${ev.value} = $ref.compute($t);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
