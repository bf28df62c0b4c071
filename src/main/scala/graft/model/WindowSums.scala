package graft.model

/** Exact running sums over the WIN-1 windows of one price series — the
  * state-side form of the streaming ridge refit.
  *
  * Min-max scaling is affine, `u = (q - qMin) / (qMax - qMin)`, so the
  * scaled-space normal equations `(sxx, sxy, n)` that
  * [[RidgeForecaster.fitFromSums]] solves are an exact transform of the
  * RAW window sums plus the running `(qMin, qMax)`:
  *
  *   Σ u_i          = (S_i - n·a) / d
  *   Σ u_i·u_j      = (P_ij - a·(S_i + S_j) + n·a²) / d²     (a = qMin, d = qMax - qMin)
  *
  * where `S_i = Σ_s q(s+i)` (one per window position) and
  * `P_ij = Σ_s q(s+i)·q(s+j)` (feature position i ≤ j, j over features and
  * labels). Keeping `S`, `P` and `n` makes a refit O(p³) and a window
  * add/subtract O(p·(p + horizon)), whatever the history length — the
  * reference rescales and rewindows its whole history on every refit
  * (`lvmh_forecaster2.py:102`).
  *
  * Prices enter on the fixed [[Q]] grid (1e-8 price units), centred on the
  * key's first accepted price, as Longs; sums live in 128-bit cells (two
  * Longs, `Math.multiplyHigh` plus a carry) and raise on overflow instead
  * of wrapping. Integer sums are order-free, so subtracting a window that
  * leaves a capped history restores exactly the sums of the survivors:
  * no drift, however long the stream. The affine shift runs once per refit
  * in `BigInt`; each shifted sum converts to double by an exact hi/lo
  * split, as [[StableRidge]] does.
  *
  * Mutable: one instance serves one key for one micro-batch; the cells
  * round-trip through the key's group state as a `Vector[Long]`. */
final class WindowSums private (val seqLen: Int, val horizon: Int,
                                private val cells: Array[Long], private var n: Long) {
  import WindowSums._

  val width: Int = seqLen + horizon

  /** Number of windows currently summed. */
  def windows: Long = n

  /** Cells as (hi, lo) pairs, cell-major — the group-state encoding. */
  def toVector: Vector[Long] = cells.toVector

  private def cell(k: Int): BigInt = cellValue(cells, k)

  private def cross(i: Int, j: Int): Int = width + i * width - i * (i - 1) / 2 + (j - i)

  /** Fold one window of `width` grid prices (features, then labels) in
    * with `sign` = +1 or out with `sign` = -1. */
  private def fold(q: Array[Long], sign: Int): Unit = {
    require(q.length == width, s"window must hold $width prices")
    var i = 0
    while (i < width) { accumulate(cells, i, q(i), 1L, sign); i += 1 }
    i = 0
    while (i < seqLen) {
      var j = i
      while (j < width) { accumulate(cells, cross(i, j), q(i), q(j), sign); j += 1 }
      i += 1
    }
    n += sign
  }

  def add(q: Array[Long]): Unit = fold(q, 1)
  def subtract(q: Array[Long]): Unit = fold(q, -1)

  /** The ridge model of the summed windows under min-max scaling over
    * `[qMin, qMax]` (grid prices). `qMax == qMin` scales every price to 0,
    * as [[graft.schema.ScalerParams]] does for a flat history. */
  def fit(qMin: Long, qMax: Long): LinearModel = {
    val p = seqLen + 1
    val sxx = new Array[Double](p * p)
    val sxy = new Array[Double](p * horizon)
    sxx(0) = n.toDouble
    val d = BigInt(qMax) - BigInt(qMin)
    if (d.signum > 0) {
      val a = BigInt(qMin)
      val nb = BigInt(n)
      val na2 = nb * a * a
      val s = Array.tabulate(width)(i => cell(i))
      val dd = d.toDouble
      val d2 = (d * d).toDouble
      var i = 0
      while (i < seqLen) {
        val lin = toD(s(i) - nb * a) / dd
        sxx(i + 1) = lin
        sxx((i + 1) * p) = lin
        var j = i
        while (j < width) {
          val v = toD(cell(cross(i, j)) - a * (s(i) + s(j)) + na2) / d2
          if (j < seqLen) { sxx((i + 1) * p + j + 1) = v; sxx((j + 1) * p + i + 1) = v }
          else sxy((i + 1) * horizon + j - seqLen) = v
          j += 1
        }
        i += 1
      }
      var h = 0
      while (h < horizon) { sxy(h) = toD(s(seqLen + h) - nb * a) / dd; h += 1 }
    }
    new RidgeForecaster(seqLen, horizon).fitFromSums(sxx, sxy, n).asInstanceOf[LinearModel]
  }
}

object WindowSums {

  /** Grid units per price unit: prices are summed as `round((p - c)·Q)`,
    * c the key's first accepted price (1e-8 resolution). */
  val Q: Double = 1e8
  /** 2^56: the largest grid price magnitude (about 7.2e8 price units from
    * the centre). Well inside a Long, so rounding never saturates, and a
    * square is at most 2^112: a cell holds 2^15 windows of extreme prices
    * before it overflows, so one bad tick cannot come near its capacity. */
  private val MaxGrid = 7.2057594037927936e16
  private val SplitPow = 52
  private val Split = BigInt(1L << SplitPow)
  private val SplitMask = Split - 1

  /** First-order cells (one per window position) plus cross cells
    * (feature position i ≤ j, j over the whole window). */
  private def cellCount(seqLen: Int, horizon: Int): Int = {
    val w = seqLen + horizon
    w + seqLen * w - seqLen * (seqLen - 1) / 2
  }

  private def empty(seqLen: Int, horizon: Int): WindowSums =
    new WindowSums(seqLen, horizon, new Array[Long](2 * cellCount(seqLen, horizon)), 0L)

  /** Sums decoded from group state (an empty vector is "no windows yet"). */
  def decode(seqLen: Int, horizon: Int, cells: Vector[Long], n: Long): WindowSums =
    if (cells.isEmpty) empty(seqLen, horizon)
    else {
      require(cells.length == 2 * cellCount(seqLen, horizon),
        s"window sums hold ${cells.length} longs; seqLen=$seqLen horizon=$horizon needs " +
          s"${2 * cellCount(seqLen, horizon)}")
      new WindowSums(seqLen, horizon, cells.toArray, n)
    }

  /** Sums of every window of `q`, built from scratch. */
  def rebuild(q: IndexedSeq[Long], seqLen: Int, horizon: Int): WindowSums = {
    val w = empty(seqLen, horizon)
    (0 to q.length - w.width).foreach(s => w.add(q.slice(s, s + w.width).toArray))
    w
  }

  /** The grid value of `price` around `centre`. Raises for NaN, infinities
    * and prices beyond the grid's range ([[MaxGrid]] units). */
  def quantize(price: Double, centre: Double): Long = {
    val x = (price - centre) * Q
    if (!(math.abs(x) < MaxGrid))
      throw new ArithmeticException(s"price $price is off the 1e-8 grid's range (2^56 units) around $centre")
    math.round(x)
  }

  /** Cell k (+)= sign·a·b in 128 bits: cells(2k) is the signed high word,
    * cells(2k+1) the unsigned low word. Raises on 128-bit overflow. */
  private[graft] def accumulate(cells: Array[Long], k: Int, a: Long, b: Long, sign: Int): Unit = {
    val ph = Math.multiplyHigh(a, b) // in [-2^62, 2^62]: ph ± 1 cannot wrap
    val pl = a * b
    val lo = cells(2 * k + 1)
    val hi = cells(2 * k)
    var newLo = 0L
    var dHi = 0L
    if (sign > 0) {
      newLo = lo + pl
      dHi = ph + (if (java.lang.Long.compareUnsigned(newLo, lo) < 0) 1L else 0L) // carry
    } else {
      newLo = lo - pl
      dHi = -(ph + (if (java.lang.Long.compareUnsigned(lo, pl) < 0) 1L else 0L)) // borrow
    }
    val newHi = hi + dHi
    if (((hi ^ newHi) & (dHi ^ newHi)) < 0)
      throw new ArithmeticException(s"128-bit window sum overflow in cell $k")
    cells(2 * k) = newHi
    cells(2 * k + 1) = newLo
  }

  private[graft] def cellValue(cells: Array[Long], k: Int): BigInt =
    (BigInt(cells(2 * k)) << 64) + (BigInt(cells(2 * k + 1)) & ((BigInt(1) << 64) - 1))

  /** Exact hi/lo conversion: `lo` (< 2^52) converts exactly and `hi·2^52`
    * is a power-of-two scaling, so the one rounding is the final add
    * (plus hi's own when |s| ≥ 2^105). */
  private def toD(s: BigInt): Double =
    (s >> SplitPow).toDouble * Split.toDouble + (s & SplitMask).toDouble
}
