package graft.model

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** ML-1/2/3 — the model stage as a dataflow operator (SURVEY.md §2.5).
  *
  * The reference trains a 2×LSTM(50)+Dense(5) Keras network
  * (`lvmh_forecaster2.py:62-71`) on sliding windows of 10 scaled prices to
  * predict the next 5. Spark has no LSTM; per SURVEY §7.3 the engine
  * contract is `fit(windowedSamples) -> Model` with identical I/O shape
  * (seqLen lags in, horizon steps out), pluggable behind this trait.
  * Correctness is by contract (output length, finiteness, envelope), not
  * bit-parity with TensorFlow — see SURVEY §5.3.
  */
trait Forecaster extends Serializable {
  def seqLen: Int
  def horizon: Int
  /** Train on WIN-1 output: rows of (features: array<double>[seqLen],
    * labels: array<double>[horizon]). */
  def fit(samples: DataFrame): ForecastModel
}

trait ForecastModel extends Serializable {
  /** Predict the next `horizon` values from one window of `seqLen` values. */
  def predict(window: Array[Double]): Array[Double]
}

/** Multi-output linear autoregression fit in closed form (ridge / normal
  * equations): one model per horizon step over the seqLen lag features plus
  * intercept.
  *
  * Distribution story: the Gram matrix X'X ((p+1)×(p+1), p = seqLen) and
  * the cross-products X'Y ((p+1)×horizon) are SUMS over samples, so they
  * are computed with a single `mapPartitions`-free aggregation: we expand
  * each sample's contribution with built-in array expressions and
  * `sum`-aggregate — a map-side partial aggregate with a one-row shuffle,
  * identical in shape to AGG-2. The tiny dense solve ((p+1) ≤ ~64) happens
  * on the driver. For 100 TB of samples this is one pass, no iteration,
  * no collect of data rows — only the (p+1)² summary ever moves.
  */
final class RidgeForecaster(val seqLen: Int = 10, val horizon: Int = 5,
                            lambda: Double = 1e-6) extends Forecaster {

  def fit(samples: DataFrame): ForecastModel = {
    val p = seqLen + 1 // +1 intercept
    // The Gram sums are accumulated the way MLlib's own regressions do it:
    // an imperative per-partition loop + treeAggregate. Only the
    // (p² + p·horizon + 1)-double summary ever moves — one partial per
    // partition, combined tree-wise, nothing collected. (A Column-level
    // formulation — flatten(transform(x, xi -> transform(x, xj -> xi*xj)))
    // summed by Summarizer — is declarative but higher-order lambdas are
    // interpreted: ~176 boxed evaluations per row, measured ~3× slower.)
    val stateLen = p * p + p * horizon + 1
    val sums = samples.select(col("features"), col("labels")).rdd
      .treeAggregate(new Array[Double](stateLen))(
        seqOp = (acc, row) => {
          val f = row.getSeq[Double](0)
          val y = row.getSeq[Double](1)
          require(f.length == seqLen && y.length == horizon, "bad sample shape")
          val x = new Array[Double](p)
          x(0) = 1.0
          var i = 0
          while (i < seqLen) { x(i + 1) = f(i); i += 1 }
          i = 0
          while (i < p) {
            val xi = x(i)
            var j = 0
            while (j < p) { acc(i * p + j) += xi * x(j); j += 1 }
            var h = 0
            while (h < horizon) { acc(p * p + i * horizon + h) += xi * y(h); h += 1 }
            i += 1
          }
          acc(stateLen - 1) += 1.0
          acc
        },
        combOp = (a, b) => { var i = 0; while (i < stateLen) { a(i) += b(i); i += 1 }; a })
    val n = sums(stateLen - 1).toLong
    if (n == 0) return new LinearModel(seqLen, horizon, Array.fill(horizon)(Array.fill(p)(0.0)))
    solveFromSums(sums.slice(0, p * p), sums.slice(p * p, p * p + p * horizon), n)
  }

  /** Executor-local fit over an in-memory sample buffer — the same normal
    * equations as [[fit]], used by the streaming state machine
    * ([[graft.streaming]]) where each key's history lives in group state
    * and a distributed aggregate per retrain would be absurd. */
  def fitLocal(samples: Iterable[(Array[Double], Array[Double])]): ForecastModel = {
    val p = seqLen + 1
    val sxx = new Array[Double](p * p)
    val sxy = new Array[Double](p * horizon)
    var n = 0L
    samples.foreach { case (f, y) =>
      require(f.length == seqLen && y.length == horizon, "bad sample shape")
      val x = new Array[Double](p)
      x(0) = 1.0; System.arraycopy(f, 0, x, 1, seqLen)
      var i = 0
      while (i < p) {
        var j = 0
        while (j < p) { sxx(i * p + j) += x(i) * x(j); j += 1 }
        var h = 0
        while (h < horizon) { sxy(i * horizon + h) += x(i) * y(h); h += 1 }
        i += 1
      }
      n += 1
    }
    fitFromSums(sxx, sxy, n)
  }

  /** The solve of [[fitLocal]] from already-accumulated normal-equation
    * sums over `n` samples: `sxx` is X'X (p×p row-major, p = seqLen + 1,
    * index 0 the intercept), `sxy` is X'Y (p×horizon row-major). The
    * streaming refit keeps these as exact running window sums
    * ([[WindowSums]]) instead of re-reading its history. */
  def fitFromSums(sxx: Array[Double], sxy: Array[Double], n: Long): ForecastModel = {
    val p = seqLen + 1
    require(sxx.length == p * p && sxy.length == p * horizon, "bad normal-equation shape")
    if (n == 0) new LinearModel(seqLen, horizon, Array.fill(horizon)(Array.fill(p)(0.0)))
    else solveFromSums(sxx, sxy, n)
  }

  private def solveFromSums(sxx: Array[Double], sxy: Array[Double], n: Long): LinearModel = {
    val p = seqLen + 1
    // A = X'X + lambda*I (no penalty on intercept), B = X'Y. The unpenalized
    // intercept row makes A singular for a constant-value window series
    // (the `ticks_const` fixture): rather than masking a zero pivot with an
    // epsilon (garbage coefficients), detect it and re-solve with ridge on
    // the FULL diagonal — a defined, deterministic regularized solution.
    def gram(interceptPenalty: Double) = Array.tabulate(p, p)((i, j) =>
      sxx(i * p + j) + (if (i == j) (if (i == 0) interceptPenalty else lambda) else 0.0))
    def trySolve(a: => Array[Array[Double]]): Option[Array[Array[Double]]] = {
      val cols = (0 until horizon).map { h =>
        solve(a.map(_.clone()), Array.tabulate(p)(i => sxy(i * horizon + h)))
      }
      if (cols.forall(_.isDefined)) Some(cols.map(_.get).toArray) else None
    }
    val fullRidge = math.max(lambda, 1e-8) * math.max(1.0, sxx(0) / n) // scale-aware
    val weights = trySolve(gram(0.0)).getOrElse(
      trySolve(gram(fullRidge)).getOrElse(
        throw new IllegalStateException(
          s"RidgeForecaster: normal equations singular even with ridge=$fullRidge (n=$n)")))
    new LinearModel(seqLen, horizon, weights)
  }

  /** Gaussian elimination with partial pivoting; None when the system is
    * numerically singular (pivot below tolerance relative to matrix scale). */
  private def solve(a: Array[Array[Double]], b: Array[Double]): Option[Array[Double]] = {
    val p = b.length
    val scale = math.max(a.map(_.map(math.abs).max).max, 1.0)
    val tol = scale * 1e-12
    for (k <- 0 until p) {
      var piv = k
      for (i <- k + 1 until p) if (math.abs(a(i)(k)) > math.abs(a(piv)(k))) piv = i
      if (math.abs(a(piv)(k)) < tol) return None
      val tmp = a(k); a(k) = a(piv); a(piv) = tmp
      val tb = b(k); b(k) = b(piv); b(piv) = tb
      for (i <- k + 1 until p) {
        val f = a(i)(k) / a(k)(k)
        if (f != 0.0) {
          for (j <- k until p) a(i)(j) -= f * a(k)(j)
          b(i) -= f * b(k)
        }
      }
    }
    val xOut = new Array[Double](p)
    for (i <- p - 1 to 0 by -1) {
      var s = b(i)
      for (j <- i + 1 until p) s -= a(i)(j) * xOut(j)
      xOut(i) = s / a(i)(i)
    }
    Some(xOut)
  }
}

final class LinearModel(seqLen: Int, horizon: Int,
                        /** weights(h)(0)=intercept, weights(h)(1..seqLen)=lag coefs */
                        val weights: Array[Array[Double]]) extends ForecastModel {
  def predict(window: Array[Double]): Array[Double] = {
    require(window.length == seqLen, s"window must have $seqLen values")
    Array.tabulate(horizon) { h =>
      val w = weights(h)
      var s = w(0)
      var i = 0
      while (i < seqLen) { s += w(i + 1) * window(i); i += 1 }
      s
    }
  }
}

/** Plan-literal prediction columns — the fitted weights become literals in
  * a pure codegen'd projection (no UDF, no per-row model object). Shared
  * by [[graft.pipeline.BatchReplay]] and `ForecastQueries` so the
  * persistence fallback and the weight fold have exactly one definition. */
object ModelColumns {
  import org.apache.spark.sql.Column

  /** Scaled step-`h` (0-based) prediction over a window-array column
    * (1-indexed `element_at`, oldest first). */
  def scaledPrediction(model: ForecastModel, window: Column, seqLen: Int, h: Int): Column =
    model match {
      case lm: LinearModel =>
        lm.weights(h).indices.drop(1).foldLeft(lit(lm.weights(h)(0)): Column) {
          (acc, i) => acc + lit(lm.weights(h)(i)) * element_at(window, i)
        }
      case _ => element_at(window, seqLen) // persistence: repeat the last value
    }
}

/** Naive persistence baseline (predicts the last value for every step) —
  * the fallback the pipeline uses below the training threshold
  * (`lvmh_forecaster2.py:75-76` returns no samples for < seqLen+horizon rows). */
final class PersistenceModel(horizon: Int) extends ForecastModel {
  def predict(window: Array[Double]): Array[Double] =
    Array.fill(horizon)(if (window.nonEmpty) window.last else 0.0)
}
