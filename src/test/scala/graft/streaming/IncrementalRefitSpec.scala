package graft.streaming

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.model.{LinearModel, RidgeForecaster, WindowSums}
import graft.schema.ScalerParams

/** The streaming ridge refit from exact running window sums
  * ([[WindowSums]]) against the full-history refit it replaced, which
  * lives on here as the oracle: every refit rescales the whole (capped)
  * history, rewindows it into fresh samples and calls
  * `RidgeForecaster.fitLocal` — the reference's shape
  * (`lvmh_forecaster2.py:102,355-357`). The two fits differ only in where
  * rounding happens (exact integer sums on the 1e-8 price grid vs double
  * sums of scaled doubles), so every emitted value must agree within 1e-6
  * relative and every event must carry the same kind, step, seq and ts. */
class IncrementalRefitSpec extends AnyFunSuite {

  private val cfg = StreamingPipeline.Config()
  private val t0 = 1700000000000L

  /** The retired full-history cycle, ridge model only, driven over a whole
    * series (no TR-1: `cycle` sees every price it is given). */
  private def oracleRun(cfg: StreamingPipeline.Config, prices: Seq[Double]): Vector[PipelineEvent] = {
    val out = Vector.newBuilder[PipelineEvent]
    var first = Option.empty[Double]
    var history = Vector.empty[Double]
    var ticksSinceFit = 0
    var bootstrapped = false
    var scaler = Option.empty[ScalerParams]
    var weights = Option.empty[Array[Array[Double]]]
    var pending = Vector.empty[PendingForecast]
    var sumSq = 0.0
    var n = 0L
    var enq = 0L
    prices.zipWithIndex.foreach { case (price, idx) =>
      val ts = new Timestamp(t0 + idx * 1000L)
      val f = first.getOrElse(price)
      first = Some(f)
      out += PipelineEvent("T", "tick", ts, 0, 0L, Some(price), Some(price / f - 1.0), None, None, None)
      history = (history :+ price).takeRight(cfg.maxHistory)
      ticksSinceFit += 1
      if (ticksSinceFit >= cfg.updateInterval && history.size >= cfg.seqLen + cfg.horizon) {
        val s = ScalerParams(history.min, history.max)
        val scaled = history.map(s.scale)
        val samples = (0 to scaled.size - cfg.seqLen - cfg.horizon).map { i =>
          (scaled.slice(i, i + cfg.seqLen).toArray,
            scaled.slice(i + cfg.seqLen, i + cfg.seqLen + cfg.horizon).toArray)
        }
        weights = Some(new RidgeForecaster(cfg.seqLen, cfg.horizon).fitLocal(samples)
          .asInstanceOf[LinearModel].weights)
        scaler = Some(s)
        ticksSinceFit = 0
      }
      if (pending.nonEmpty) {
        val oldest = pending.head
        pending = pending.tail
        sumSq += (price - oldest.forecasted) * (price - oldest.forecasted)
        n += 1
        out += PipelineEvent("T", "match", ts, oldest.step, n, None, None,
          Some(oldest.forecasted), Some(price), None)
        out += PipelineEvent("T", "rmse", ts, 0, n, None, None, None, None, Some(math.sqrt(sumSq / n)))
      }
      (weights, scaler) match {
        case (Some(w), Some(s)) =>
          val lags = history.takeRight(cfg.seqLen).map(s.scale).toArray
          val preds = w.map { wh =>
            var acc = wh.head
            lags.indices.foreach(i => acc += wh(i + 1) * lags(i))
            s.invert(acc)
          }
          val steps = if (bootstrapped) Seq(cfg.horizon) else 1 to cfg.horizon
          steps.foreach { k =>
            val labelTs = ts.getTime + (if (bootstrapped) k else k - 1) * cfg.labelIntervalMs
            pending = pending :+ PendingForecast(k, labelTs, preds(k - 1))
            enq += 1
            out += PipelineEvent("T", "forecast", new Timestamp(labelTs), k, enq,
              None, None, Some(preds(k - 1)), None, None)
          }
          bootstrapped = true
        case _ =>
      }
    }
    out.result()
  }

  private def streamRun(cfg: StreamingPipeline.Config, prices: Seq[Double]): (Vector[PipelineEvent], TickState) = {
    var st = TickState.empty
    val out = Vector.newBuilder[PipelineEvent]
    prices.zipWithIndex.foreach { case (p, i) =>
      val (next, events) = StreamingPipeline.cycle(cfg, st, "T", new Timestamp(t0 + i * 1000L), p)
      st = next
      out ++= events
    }
    (out.result(), st)
  }

  private def close(a: Option[Double], b: Option[Double]): Boolean = (a, b) match {
    case (Some(x), Some(y)) => math.abs(x - y) <= 1e-6 * math.max(math.abs(x), math.abs(y)) + 1e-12
    case (None, None) => true
    case _ => false
  }

  private def assertAgrees(cfg: StreamingPipeline.Config, prices: Seq[Double]): Unit = {
    val (got, _) = streamRun(cfg, prices)
    val want = oracleRun(cfg, prices)
    assert(got.map(e => (e.kind, e.ts, e.step, e.seq)) == want.map(e => (e.kind, e.ts, e.step, e.seq)),
      "event cadence differs from the full-history refit")
    val forecasts = got.count(_.kind == "forecast")
    assert(forecasts > prices.size / 2, s"only $forecasts forecasts: the refit loop barely ran")
    val gaps = got.zip(want).collect { case (g, w) if g.kind == "forecast" =>
      math.abs(g.forecasted.get - w.forecasted.get) / math.abs(w.forecasted.get)
    }
    info(f"$forecasts forecasts, max relative gap ${gaps.max}%.2e")
    got.zip(want).foreach { case (g, w) =>
      assert(close(g.price, w.price) && close(g.variation, w.variation) &&
        close(g.forecasted, w.forecasted) && close(g.actual, w.actual) && close(g.rmse, w.rmse),
        s"stream $g vs full-history $w")
    }
  }

  /** Seeded walk on the 0.01 grid. */
  private def walk(seed: Int, n: Int, start: Double, drift: Int => Double): Vector[Double] = {
    val rnd = new scala.util.Random(seed)
    var p = start
    (0 until n).map { i =>
      p = math.max(1.0, p + drift(i) + rnd.nextGaussian())
      math.round(p * 100) / 100.0
    }.toVector
  }

  test("agrees with the full-history refit on a walk that sets a new min and max mid-stream") {
    // up ~+40 over the first 150 ticks, then down below the start
    val prices = walk(11, 400, 100.0, i => if (i < 150) 0.3 else if (i < 320) -0.45 else 0.0)
    assert(prices.indexOf(prices.max) > 100 && prices.indexOf(prices.min) > 250)
    assertAgrees(cfg, prices)
  }

  test("agrees on off-grid doubles (100.0 + 0.37 * k) and on full-precision doubles") {
    val rnd = new scala.util.Random(12)
    var k = 0
    val offGrid = (0 until 300).map { _ => k += rnd.nextInt(21) - 10; 100.0 + 0.37 * k }
    // float noise past the 8th decimal, e.g. 100.0 + 0.37 * 42 = 115.53999999999999
    assert(offGrid.exists(p => p.toString.split('.')(1).length > 8), "fixture must hold off-grid doubles")
    assertAgrees(cfg, offGrid)
    var p = 250.0
    val raw = (0 until 300).map { _ => p += rnd.nextGaussian() * 0.731; p }
    assertAgrees(cfg, raw)
  }

  test("agrees through a constant run (flat range: every price scales to 0) and after it") {
    // cycle sees every price (TR-1 lives in stateFunc), so 40 equal ticks
    // refit three times on a zero-width range before the walk widens it
    val prices = Vector.fill(40)(100.0) ++ walk(13, 120, 100.0, _ => 0.0)
    assertAgrees(cfg, prices)
  }

  test("agrees under a sliding maxHistory = 50 while the min and the max leave the window") {
    val base = walk(14, 400, 100.0, _ => 0.0)
    val prices = base.updated(21, 150.0).updated(40, 50.0)
    val capped = cfg.copy(maxHistory = 50)
    assertAgrees(capped, prices)
    val (_, st) = streamRun(capped, prices)
    assert(st.history.size == 50 && st.nWindows == 50 - cfg.seqLen - cfg.horizon + 1)
    assert(st.maxPrice == prices.takeRight(50).max && st.minPrice == prices.takeRight(50).min)
    assert(st.maxPrice < 150.0 && st.minPrice > 50.0, "the extremes should have left the window")
  }

  test("zero drift: 100k sliding adds and subtracts equal sums rebuilt from the surviving windows") {
    val capped = cfg.copy(maxHistory = 50)
    val rnd = new scala.util.Random(15)
    val loop = new KeyLoop(capped, TickState.empty)
    val sink = scala.collection.mutable.ArrayBuffer.empty[PipelineEvent]
    var p = 1000.0
    (0 until 100000).foreach { i =>
      // wide moves and sub-cent digits: large grid values, many carries
      p = math.max(1.0, p + rnd.nextGaussian() * 40 + rnd.nextDouble() * 1e-5)
      loop.step("T", new Timestamp(t0 + i * 1000L), p, sink)
      if (sink.size > 64) sink.clear()
    }
    val st = loop.state
    val first = st.firstPrice.get
    val rebuilt = WindowSums.rebuild(st.history.map(WindowSums.quantize(_, first)), cfg.seqLen, cfg.horizon)
    assert(st.nWindows == rebuilt.windows)
    assert(st.windowSums == rebuilt.toVector, "sliding sums drifted from a rebuild")
  }

  test("a restart that caps an uncapped key resumes from sums over the retained prices only") {
    val prices = walk(17, 300, 100.0, _ => 0.0)
    val (_, uncapped) = streamRun(cfg, prices.take(200)) // sums over 186 windows, 15 prices kept
    val loop = new KeyLoop(cfg.copy(maxHistory = 50), uncapped)
    assert(loop.state.nWindows == 1)
    val sink = scala.collection.mutable.ArrayBuffer.empty[PipelineEvent]
    prices.drop(200).zipWithIndex.foreach { case (p, i) =>
      loop.step("T", new Timestamp(t0 + (200 + i) * 1000L), p, sink)
    }
    val st = loop.state
    val rebuilt = WindowSums.rebuild(st.history.map(WindowSums.quantize(_, st.firstPrice.get)),
      cfg.seqLen, cfg.horizon)
    assert(st.history.size == 50 && st.nWindows == rebuilt.windows && st.windowSums == rebuilt.toVector)
  }

  test("128-bit cells: carries and borrows match BigInt arithmetic exactly") {
    val rnd = new scala.util.Random(16)
    val cells = new Array[Long](2)
    var want = BigInt(0)
    (0 until 20000).foreach { i =>
      // wide operands (products up to ~2^102) carry out of the low word
      // on most steps, and 20k of them stay far inside 2^127
      val a = rnd.nextLong() >> (i % 3)
      val b = rnd.nextLong() >> 24
      val sign = if (rnd.nextBoolean()) 1 else -1
      WindowSums.accumulate(cells, 0, a, b, sign)
      want += BigInt(a) * BigInt(b) * sign
      assert(WindowSums.cellValue(cells, 0) == want, s"cell diverged at step $i")
    }
  }

  test("128-bit cells raise on overflow instead of wrapping") {
    // (2^63 - 1)^2 ≈ 2^126: two fit below 2^127, a third does not
    for (sign <- Seq(1, -1)) {
      val cells = new Array[Long](2)
      WindowSums.accumulate(cells, 0, Long.MaxValue, Long.MaxValue, sign)
      WindowSums.accumulate(cells, 0, Long.MaxValue, Long.MaxValue, sign)
      assert(WindowSums.cellValue(cells, 0) == BigInt(Long.MaxValue).pow(2) * 2 * sign)
      assertThrows[ArithmeticException](WindowSums.accumulate(cells, 0, Long.MaxValue, Long.MaxValue, sign))
    }
  }

  test("a NaN, infinite, off-grid or overflowing price raises an error naming the ticker and timestamp") {
    val ts = new Timestamp(t0 + 5000L)
    val (st, _) = StreamingPipeline.cycle(cfg, TickState.empty, "MC.PA", new Timestamp(t0), 100.0)
    for (bad <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 1e9, -1e9)) {
      val e = intercept[IllegalArgumentException](StreamingPipeline.cycle(cfg, st, "MC.PA", ts, bad))
      assert(e.getMessage.contains("MC.PA") && e.getMessage.contains(ts.toString), e.getMessage)
    }
    // 1e8 is 1e16 grid units from the centre, inside the 2^56 range
    StreamingPipeline.cycle(cfg, st, "MC.PA", ts, 1e8)
    // the grid bounds the ridge sums only: boost keeps prices, not sums
    StreamingPipeline.cycle(cfg.copy(model = "boost"), st, "MC.PA", ts, 1e12)

    // a cell at the 128-bit limit: the next window's first-order sum of
    // its newest price (above the centre, so positive) overflows
    val full = streamRun(cfg, walk(18, 20, 100.0, _ => 0.0))._2
    val saturated = full.copy(windowSums =
      Vector.fill(full.windowSums.length / 2)(Vector(Long.MaxValue, -1L)).flatten)
    val e = intercept[IllegalArgumentException](
      StreamingPipeline.cycle(cfg, saturated, "MC.PA", ts, full.firstPrice.get + 1.0))
    assert(e.getMessage.contains("MC.PA") && e.getMessage.contains(ts.toString) &&
      e.getMessage.contains("overflow"), e.getMessage)
  }

  test("fitFromSums solves exactly as fitLocal, full-ridge fallback included") {
    // raw constant windows (the ticks_const fixture): the unpenalized
    // intercept makes X'X singular and the solve falls back to full ridge
    for (series <- Seq(Array.fill(40)(42.0), Array.tabulate(40)(i => math.sin(i / 3.0)))) {
      val samples = (0 to series.length - 15).map(i => (series.slice(i, i + 10), series.slice(i + 10, i + 15)))
      val f = new RidgeForecaster(10, 5)
      val sxx = new Array[Double](121)
      val sxy = new Array[Double](55)
      samples.foreach { case (x0, y) =>
        val x = 1.0 +: x0
        for (i <- 0 until 11) {
          for (j <- 0 until 11) sxx(i * 11 + j) += x(i) * x(j)
          for (h <- 0 until 5) sxy(i * 5 + h) += x(i) * y(h)
        }
      }
      val a = f.fitLocal(samples).asInstanceOf[LinearModel].weights.map(_.toSeq).toSeq
      val b = f.fitFromSums(sxx, sxy, samples.size).asInstanceOf[LinearModel].weights.map(_.toSeq).toSeq
      assert(a == b)
    }
  }
}
