package graft.functions

import graft.plans.FunctionEntry
import org.apache.spark.sql.{Encoder, Encoders, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{Cast, CreateMap, Literal}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.{udaf, udf}
import org.apache.spark.sql.types.DoubleType

/** The presto-ml surface re-expressed Spark-first (reference:
  * presto-ml/.../MLFunctions.java, MLFeaturesFunctions.java,
  * LearnClassifierAggregation.java:29-60, LearnRegressorAggregation.java:30-60,
  * EvaluateClassifierPredictionsAggregation.java:38-122).
  *
  * Semantics and their documented narrowings:
  *
  *   - `features(f1, …, fn)` → `map<bigint,double>` with keys 0..n-1,
  *     exactly the reference's MLFeaturesFunctions.featuresHelper. Registered
  *     as a NATIVE variadic expression (CreateMap of literal keys + casts), so
  *     it stays inside whole-stage codegen — no UDF boundary.
  *
  *   - `learn_regressor(label, features)` trains a least-squares LINEAR model
  *     via the normal equations; `learn_classifier` / `learn_varchar_classifier`
  *     train one-vs-rest least-squares linear classifiers (argmax of per-class
  *     scores). The reference trains libsvm SVMs (AbstractSvmModel.java) whose
  *     fitted weights are solver- and seed-dependent — no engine can replay
  *     them bit-for-bit; what is preserved here is the CONTRACT (train-as-an-
  *     aggregate, apply-as-a-scalar over the same `map<bigint,double>` feature
  *     space) with a deterministic, closed-form model family.
  *
  *   - Scale shape: the reference marks every learn_* aggregation
  *     `decomposable = false` (LearnClassifierAggregation.java:29) and its
  *     LearnState materializes EVERY input row until output — single-node
  *     training. The normal-equations state here is O(k²) doubles (k = feature
  *     dimension): partials merge by matrix addition, so training is one
  *     map-side-combined distributed pass over 100 TB with nothing data-sized
  *     anywhere. Dimension is capped at [[MaxDim]] (the reference's features()
  *     constructor is arity ≤ 10) and fails loud beyond it.
  *
  *   - `classify(features, model)` returns VARCHAR. The reference overloads
  *     classify to BIGINT/VARCHAR on the model's type parameter
  *     (MLFunctions.java:44-64); Spark UDFs are monomorphic, so bigint-labeled
  *     models return the label's decimal string and callers compare/cast
  *     (comparisons against bigint columns coerce). `regress` returns DOUBLE.
  *
  *   - `evaluate_classifier_predictions(truth, prediction)` reproduces the
  *     reference's multi-line summary format byte-for-byte
  *     (EvaluateClassifierPredictionsAggregation.java:100-121) with one
  *     narrowing: the reference iterates `union(tp, fp, fn)` keySets (Guava
  *     hash order — unspecified); labels here are SORTED so output is
  *     deterministic and oracle-replayable.
  *
  *   - `learn_libsvm_classifier` / `learn_libsvm_regressor` accept the
  *     reference's params string (LibSvmUtils.parseParameters) but train the
  *     same closed-form family — the svm hyperparameters have no meaning for
  *     a least-squares model and are validated-then-ignored, documented here.
  */
object MlFunctions {

  /** Feature-dimension cap: normal-equations state is O(MaxDim²). */
  val MaxDim = 1024

  /** Mergeable training state: augmented normal equations.
    *
    * `k`   — feature dimension seen so far (max key + 1);
    * `n`   — row count;
    * `xtx` — flattened (k+1)×(k+1) Gram matrix of augmented rows [x, 1];
    * `xty` — per-target right-hand sides: regressor → key "" holding Σ y·[x,1];
    *         classifier → one key per label holding Σ_{rows of that label} [x,1]
    *         (the X'y of a 0/1 one-vs-rest target).
    */
  case class LearnState(
      k: Int,
      n: Long,
      xtx: Seq[Double],
      xty: Map[String, Seq[Double]])

  /** Fitted model as a plain struct so it survives SQL/parquet round-trips
    * (the reference serializes to varbinary, ModelUtils.java:89). `weights`
    * rows align with `labels` for classifiers (sorted label order); a
    * regressor has one row and no labels. Each row is length k+1, the last
    * element the intercept. */
  case class MlModel(kind: String, labels: Seq[String], weights: Seq[Seq[Double]])

  private val emptyState = LearnState(0, 0L, Vector.empty, Map.empty)

  /** Grow a flattened (k+1)×(k+1) matrix to (k2+1)×(k2+1). */
  private def growGram(xtx: Seq[Double], k: Int, k2: Int): Array[Double] = {
    val out = new Array[Double]((k2 + 1) * (k2 + 1))
    if (k > 0 || xtx.nonEmpty) {
      val oldAug = k + 1
      var i = 0
      while (i < oldAug) {
        var j = 0
        while (j < oldAug) {
          // old index i maps to i except the intercept row/col (old k → new k2)
          val ni = if (i == k) k2 else i
          val nj = if (j == k) k2 else j
          out(ni * (k2 + 1) + nj) = xtx(i * oldAug + j)
          j += 1
        }
        i += 1
      }
    }
    out
  }

  private def growVec(v: Seq[Double], k: Int, k2: Int): Array[Double] = {
    val out = new Array[Double](k2 + 1)
    if (v.nonEmpty) {
      var i = 0
      while (i < k + 1) {
        out(if (i == k) k2 else i) = v(i)
        i += 1
      }
    }
    out
  }

  private def dimOf(features: Map[Long, Double]): Int = {
    if (features.isEmpty) return 0
    require(features.keys.min >= 0, "learn_*: feature keys must be >= 0")
    val d = features.keys.max.toInt + 1
    require(d <= MaxDim,
      s"learn_*: feature key ${d - 1} exceeds the dense normal-equations cap " +
        s"$MaxDim — hash high-dimensional features down first")
    d
  }

  /** Fold one (target, y, features) observation into the state. For a
    * classifier y = 1.0 and `target` is the label; for a regressor y is the
    * label and `target` is "".
    *
    * r16 (guide §1.2 step 2, per-task work): the steady-state path —
    * feature dimension unchanged, target already seen — mutates the
    * state's backing arrays IN PLACE instead of re-allocating and
    * copying the whole (k+1)² Gram matrix plus every per-target vector
    * on EVERY row (ml01 paid ~20 allocations per lineitem row for a
    * 2×2 Gram). Arithmetic is bit-identical: each Gram/rhs cell
    * receives exactly one `+=` per observation (entry keys are unique
    * within a row), so per-cell accumulation order over rows is
    * unchanged. The typed-Aggregator contract explicitly permits
    * mutating and returning the buffer. Dimension growth and unseen
    * targets take the old copy path; observe always returns
    * ArraySeq-backed state so the next row hits the fast path. */
  // immutable.ArraySeq is a zero-copy wrapper over the backing array;
  // the fast path below mutates that array THROUGH the wrapper. That is
  // deliberate and contained: the wrapper only ever wraps aggregation
  // buffers this object itself created, which nothing else can observe
  // mid-aggregation (the Aggregator contract hands the buffer to exactly
  // one reduce/merge call at a time).
  private def wrap(a: Array[Double]): Seq[Double] =
    scala.collection.immutable.ArraySeq.unsafeWrapArray(a)

  private def observe(
      b: LearnState, target: String, y: Double,
      features: Map[Long, Double]): LearnState = {
    val k2 = math.max(b.k, dimOf(features))
    val aug = k2 + 1
    val sameK = b.k == k2
    val (xtxArr, xtxSeq) = b.xtx match {
      case w: scala.collection.immutable.ArraySeq.ofDouble
          if sameK && w.length == aug * aug => (w.unsafeArray, w: Seq[Double])
      case _ =>
        val a = growGram(b.xtx, b.k, k2)
        (a, wrap(a))
    }
    // sparse rank-1 update on the nonzero entries + the implicit 1-column
    val idx = new Array[Int](features.size + 1)
    val vs = new Array[Double](features.size + 1)
    var cnt = 0
    features.foreach { case (i, v) =>
      if (v != 0.0) { idx(cnt) = i.toInt; vs(cnt) = v; cnt += 1 }
    }
    idx(cnt) = k2; vs(cnt) = 1.0; cnt += 1
    var a = 0
    while (a < cnt) {
      val base = idx(a) * aug
      val va = vs(a)
      var c = 0
      while (c < cnt) { xtxArr(base + idx(c)) += va * vs(c); c += 1 }
      a += 1
    }
    val xty =
      if (sameK) b.xty
      else b.xty.map { case (t, v) => t -> wrap(growVec(v, b.k, k2)) }
    val (rhsArr, rhsInPlace) = xty.get(target) match {
      case Some(w: scala.collection.immutable.ArraySeq.ofDouble)
          if w.length == aug => (w.unsafeArray, true)
      case Some(v) => (growVec(v, k2, k2), false)
      case None => (new Array[Double](aug), false)
    }
    a = 0
    while (a < cnt) { rhsArr(idx(a)) += y * vs(a); a += 1 }
    val xtyOut =
      if (rhsInPlace) xty else xty + (target -> wrap(rhsArr))
    LearnState(k2, b.n + 1, xtxSeq, xtyOut)
  }

  private def mergeStates(b1: LearnState, b2: LearnState): LearnState = {
    if (b2.n == 0) b1
    else if (b1.n == 0) b2
    else {
      val k2 = math.max(b1.k, b2.k)
      val xtx = growGram(b1.xtx, b1.k, k2)
      val other = growGram(b2.xtx, b2.k, k2)
      var i = 0
      while (i < xtx.length) { xtx(i) += other(i); i += 1 }
      val keys = b1.xty.keySet ++ b2.xty.keySet
      val xty = keys.map { t =>
        val v = growVec(b1.xty.getOrElse(t, Vector.empty),
          if (b1.xty.contains(t)) b1.k else 0, k2)
        val w = growVec(b2.xty.getOrElse(t, Vector.empty),
          if (b2.xty.contains(t)) b2.k else 0, k2)
        var j = 0
        while (j < v.length) { v(j) += w(j); j += 1 }
        t -> (v.toSeq: Seq[Double])
      }.toMap
      LearnState(k2, b1.n + b2.n, xtx.toSeq, xty)
    }
  }

  /** Solve A·w = b by Gaussian elimination with partial pivoting; if A is
    * numerically singular, retry once with a tiny ridge (1e-9 · mean diagonal)
    * — deterministic and documented, not a silent fallback to garbage. */
  private[graft] def solve(aFlat: Seq[Double], bVec: Seq[Double]): Array[Double] = {
    val n = bVec.length
    def attempt(ridge: Double): Option[Array[Double]] = {
      val a = Array.tabulate(n, n)((i, j) =>
        aFlat(i * n + j) + (if (i == j) ridge else 0.0))
      val b = bVec.toArray
      var col = 0
      while (col < n) {
        var piv = col
        var i = col + 1
        while (i < n) { if (math.abs(a(i)(col)) > math.abs(a(piv)(col))) piv = i; i += 1 }
        if (math.abs(a(piv)(col)) < 1e-12) return None
        val tmp = a(col); a(col) = a(piv); a(piv) = tmp
        val tb = b(col); b(col) = b(piv); b(piv) = tb
        i = col + 1
        while (i < n) {
          val f = a(i)(col) / a(col)(col)
          if (f != 0.0) {
            var j = col
            while (j < n) { a(i)(j) -= f * a(col)(j); j += 1 }
            b(i) -= f * b(col)
          }
          i += 1
        }
        col += 1
      }
      val w = new Array[Double](n)
      var i2 = n - 1
      while (i2 >= 0) {
        var s = b(i2)
        var j = i2 + 1
        while (j < n) { s -= a(i2)(j) * w(j); j += 1 }
        w(i2) = s / a(i2)(i2)
        i2 -= 1
      }
      Some(w)
    }
    attempt(0.0).orElse {
      val trace = (0 until n).map(i => aFlat(i * n + i)).sum
      attempt(1e-9 * (trace / math.max(n, 1)))
    }.getOrElse(new Array[Double](n)) // all-zero features → zero model
  }

  private def fit(state: LearnState, kind: String): MlModel =
    if (state.n == 0) MlModel(kind, Vector.empty, Vector.empty)
    else if (kind == "regressor") {
      val w = solve(state.xtx, state.xty("")).toSeq
      MlModel(kind, Vector.empty, Vector(w))
    } else {
      val labels = state.xty.keys.toVector.sorted
      MlModel(kind, labels, labels.map(l => solve(state.xtx, state.xty(l)).toSeq))
    }

  class LearnRegressorAgg(enc: Encoder[LearnState], out: Encoder[MlModel])
      extends Aggregator[(java.lang.Double, Map[Long, Double]), LearnState, MlModel] {
    def zero: LearnState = emptyState
    def reduce(b: LearnState, a: (java.lang.Double, Map[Long, Double])): LearnState =
      if (a == null || a._1 == null || a._2 == null) b
      else observe(b, "", a._1.doubleValue(), a._2)
    def merge(b1: LearnState, b2: LearnState): LearnState = mergeStates(b1, b2)
    def finish(r: LearnState): MlModel = fit(r, "regressor")
    def bufferEncoder: Encoder[LearnState] = enc
    def outputEncoder: Encoder[MlModel] = out
  }

  class LearnClassifierAgg(kind: String, enc: Encoder[LearnState], out: Encoder[MlModel])
      extends Aggregator[(String, Map[Long, Double]), LearnState, MlModel] {
    def zero: LearnState = emptyState
    def reduce(b: LearnState, a: (String, Map[Long, Double])): LearnState =
      if (a == null || a._1 == null || a._2 == null) b
      else observe(b, a._1, 1.0, a._2)
    def merge(b1: LearnState, b2: LearnState): LearnState = mergeStates(b1, b2)
    def finish(r: LearnState): MlModel = fit(r, kind)
    def bufferEncoder: Encoder[LearnState] = enc
    def outputEncoder: Encoder[MlModel] = out
  }

  /** The reference's 3-arg libsvm spellings (LearnLibSvmClassifierAggregation
    * .java, LearnLibSvmRegressorAggregation.java): params are validated for
    * the reference's key=value shape, then ignored (see object scaladoc). */
  class LearnLibSvmRegressorAgg(enc: Encoder[LearnState], out: Encoder[MlModel])
      extends Aggregator[(java.lang.Double, Map[Long, Double], String), LearnState, MlModel] {
    def zero: LearnState = emptyState
    def reduce(b: LearnState, a: (java.lang.Double, Map[Long, Double], String)): LearnState =
      if (a == null || a._1 == null || a._2 == null) b
      else { checkLibSvmParams(a._3); observe(b, "", a._1.doubleValue(), a._2) }
    def merge(b1: LearnState, b2: LearnState): LearnState = mergeStates(b1, b2)
    def finish(r: LearnState): MlModel = fit(r, "regressor")
    def bufferEncoder: Encoder[LearnState] = enc
    def outputEncoder: Encoder[MlModel] = out
  }

  class LearnLibSvmClassifierAgg(kind: String, enc: Encoder[LearnState], out: Encoder[MlModel])
      extends Aggregator[(String, Map[Long, Double], String), LearnState, MlModel] {
    def zero: LearnState = emptyState
    def reduce(b: LearnState, a: (String, Map[Long, Double], String)): LearnState =
      if (a == null || a._1 == null || a._2 == null) b
      else { checkLibSvmParams(a._3); observe(b, a._1, 1.0, a._2) }
    def merge(b1: LearnState, b2: LearnState): LearnState = mergeStates(b1, b2)
    def finish(r: LearnState): MlModel = fit(r, kind)
    def bufferEncoder: Encoder[LearnState] = enc
    def outputEncoder: Encoder[MlModel] = out
  }

  private def score(w: Seq[Double], features: Map[Long, Double]): Double = {
    var s = w.last // intercept
    for ((i, v) <- features) {
      // the training side (dimOf) validates keys >= 0; the apply side
      // must reject out-of-range keys just as clearly — silently
      // dropping features >= the trained dimension would return a
      // truncated prediction with no signal (fail-loud contract).
      require(i >= 0, s"feature keys must be non-negative, got $i")
      require(i < w.length - 1,
        s"feature key $i is outside the trained model's dimension " +
          s"${w.length - 1} — the model never saw this feature; " +
          "re-train with the full feature space or drop the feature " +
          "explicitly before scoring")
      s += w(i.toInt) * v
    }
    s
  }

  /** Argmax over per-class scores; ties break to the first label in sorted
    * order (deterministic — the reference's svm_predict has its own internal,
    * solver-defined tie behavior). */
  private def classifyRow(features: Map[Long, Double], model: Row): String = {
    val kind = model.getAs[String]("kind")
    require(kind.startsWith("classifier"),
      s"classify: model is a '$kind', not a classifier")
    val labels = model.getAs[Seq[String]]("labels")
    val weights = model.getAs[Seq[Seq[Double]]]("weights")
    require(labels.nonEmpty, "classify: model was trained on zero rows")
    var best = 0
    var bestScore = Double.NegativeInfinity
    var i = 0
    while (i < labels.length) {
      val s = score(weights(i), features)
      if (s > bestScore) { bestScore = s; best = i }
      i += 1
    }
    labels(best)
  }

  private def regressRow(features: Map[Long, Double], model: Row): Double = {
    val kind = model.getAs[String]("kind")
    require(kind == "regressor", s"regress: model is a '$kind', not a regressor")
    val weights = model.getAs[Seq[Seq[Double]]]("weights")
    require(weights.nonEmpty, "regress: model was trained on zero rows")
    score(weights.head, features)
  }

  /** Precision/recall summary state: per-label true/false-positive and
    * false-negative counts (reference EvaluateClassifierPredictionsState). */
  type EvalState = (Map[String, Long], Map[String, Long], Map[String, Long])

  private def bump(m: Map[String, Long], k: String): Map[String, Long] =
    m + (k -> (m.getOrElse(k, 0L) + 1L))
  private def addMaps(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.foldLeft(a) { case (acc, (k, v)) => acc + (k -> (acc.getOrElse(k, 0L) + v)) }

  class EvaluatePredictionsAgg(enc: Encoder[EvalState])
      extends Aggregator[(String, String), EvalState, String] {
    def zero: EvalState = (Map.empty, Map.empty, Map.empty)
    def reduce(b: EvalState, a: (String, String)): EvalState =
      if (a == null || a._1 == null || a._2 == null) b
      else if (a._1 == a._2) (bump(b._1, a._1), b._2, b._3)
      else (b._1, bump(b._2, a._2), bump(b._3, a._1))
    def merge(b1: EvalState, b2: EvalState): EvalState =
      (addMaps(b1._1, b2._1), addMaps(b1._2, b2._2), addMaps(b1._3, b2._3))
    def finish(r: EvalState): String = {
      val (tp, fp, fn) = r
      val sb = new StringBuilder
      val correct = tp.values.sum
      val total = correct + fp.values.sum
      sb.append("Accuracy: %d/%d (%.2f%%)\n".formatLocal(java.util.Locale.US,
        correct, total, 100.0 * correct / total.toDouble))
      for (label <- (tp.keySet ++ fp.keySet ++ fn.keySet).toVector.sorted) {
        val t = tp.getOrElse(label, 0L)
        val p = fp.getOrElse(label, 0L)
        val n = fn.getOrElse(label, 0L)
        sb.append("Class '%s'\n".formatLocal(java.util.Locale.US, label))
        sb.append("Precision: %d/%d (%.2f%%)\n".formatLocal(java.util.Locale.US,
          t, t + p, 100.0 * t / (t + p).toDouble))
        sb.append("Recall: %d/%d (%.2f%%)\n".formatLocal(java.util.Locale.US,
          t, t + n, 100.0 * t / (t + n).toDouble))
      }
      sb.toString
    }
    def bufferEncoder: Encoder[EvalState] = enc
    def outputEncoder: Encoder[String] = Encoders.STRING
  }

  /** Validate the reference's libsvm params string shape (key=value pairs
    * from LibSvmUtils.parseParameters — e.g. "C=1,kernel=linear"); the values
    * carry no meaning for the closed-form model family and are ignored. */
  private[graft] def checkLibSvmParams(params: String): Unit =
    if (params != null && params.trim.nonEmpty)
      params.split(",").foreach { kv =>
        require(kv.contains("="),
          s"learn_libsvm_*: malformed params entry '$kv' (want key=value[,key=value…])")
      }

  lazy val functions: Seq[FunctionEntry] = {
    val stateEnc: Encoder[LearnState] = ExpressionEncoder[LearnState]()
    val modelEnc: Encoder[MlModel] = ExpressionEncoder[MlModel]()
    val mapEnc: Encoder[Map[Long, Double]] = ExpressionEncoder[Map[Long, Double]]()
    val regIn = Encoders.tuple(Encoders.DOUBLE, mapEnc)
    val clsIn = Encoders.tuple(Encoders.STRING, mapEnc)
    // libsvm spellings: params validated then ignored (see scaladoc).
    val regIn3 = Encoders.tuple(Encoders.DOUBLE, mapEnc, Encoders.STRING)
    val clsIn3 = Encoders.tuple(Encoders.STRING, mapEnc, Encoders.STRING)
    val evalEnc: Encoder[EvalState] = ExpressionEncoder[EvalState]()
    Seq(
      // features(f1, …, fn): native CreateMap — stays codegen'd.
      FunctionEntry.native("features", 0, FunctionEntry.Variadic) { exprs =>
        CreateMap(
          exprs.zipWithIndex.flatMap { case (e, i) =>
            Seq(Literal(i.toLong), Cast(e, DoubleType))
          },
          useStringTypeWhenEmpty = false)
      },
      FunctionEntry.udf("learn_regressor",
        udaf(new LearnRegressorAgg(stateEnc, modelEnc), regIn)),
      FunctionEntry.udf("learn_classifier",
        udaf(new LearnClassifierAgg("classifier(bigint)", stateEnc, modelEnc), clsIn)),
      FunctionEntry.udf("learn_varchar_classifier",
        udaf(new LearnClassifierAgg("classifier(varchar)", stateEnc, modelEnc), clsIn)),
      FunctionEntry.udf("learn_libsvm_regressor",
        udaf(new LearnLibSvmRegressorAgg(stateEnc, modelEnc), regIn3)),
      FunctionEntry.udf("learn_libsvm_classifier",
        udaf(new LearnLibSvmClassifierAgg("classifier(bigint)", stateEnc, modelEnc), clsIn3)),
      FunctionEntry.udf("learn_libsvm_varchar_classifier",
        udaf(new LearnLibSvmClassifierAgg("classifier(varchar)", stateEnc, modelEnc), clsIn3)),
      FunctionEntry.udf("classify",
        udf((features: Map[Long, Double], model: Row) =>
          if (features == null || model == null) null else classifyRow(features, model))),
      FunctionEntry.udf("regress",
        udf((features: Map[Long, Double], model: Row) =>
          if (features == null || model == null) null.asInstanceOf[java.lang.Double]
          else java.lang.Double.valueOf(regressRow(features, model)))),
      FunctionEntry.udf("evaluate_classifier_predictions",
        udaf(new EvaluatePredictionsAgg(evalEnc),
          Encoders.tuple(Encoders.STRING, Encoders.STRING))),
    )
  }

}
