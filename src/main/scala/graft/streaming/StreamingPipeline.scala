package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.model.WindowSums
import graft.schema.{RawTick, ScalerParams}
import graft.sink.CsvSinks

/** One pending (not yet actual-matched) forecast row — the reference's
  * `actual_price IS NULL` rows of T3 (`lvmh_forecaster2.py:164,174`).
  * `labelTsMs` = issue time + step minutes (`lvmh_forecaster2.py:162,181`). */
final case class PendingForecast(step: Int, labelTsMs: Long, forecasted: Double)

/** Per-ticker pipeline state for [[StreamingPipeline]]: the scalar state
  * the reference keeps between cycles (SURVEY §7.1 step 6), with its
  * full price history (`lvmh_forecaster2.py:102`) replaced by what the
  * refit actually reads.
  *
  *  - `firstPrice` (TR-2; also the centre of the ridge sums' price grid)
  *    and `lastPrice` (TR-1).
  *  - `history`: the retained price tail, oldest first. For the ridge
  *    model it is the last `seqLen + horizon` prices (the next window and
  *    the next forecast's lags), or the last `maxHistory` when capped (the
  *    windows that will leave the refit). Boost mode fits on samples, so
  *    it keeps every price up to `maxHistory`: that bound is what caps its
  *    state (unbounded under the default config).
  *  - `minPrice`/`maxPrice`: the scaler's range (NRM-1) over the whole
  *    history, or over the last `maxHistory` prices when capped; ±∞ before
  *    the first tick.
  *  - `windowSums`/`nWindows`: the exact raw sums over every refit window,
  *    as [[graft.model.WindowSums]] encodes them (ridge only; empty for
  *    boost). A refit reads these and the range, never the history.
  *  - ticks since the last fit (ML-2), the frozen scaler (NRM-2), the model
  *    weights (ML-1), the FIFO buffer of unmatched forecasts (JN-1) and the
  *    running squared-error sums (AGG-2).
  *
  * Under the default ridge config the state has a fixed size, whatever
  * the history length. */
final case class TickState(
    firstPrice: Option[Double],
    lastPrice: Option[Double],
    history: Vector[Double],
    minPrice: Double,
    maxPrice: Double,
    windowSums: Vector[Long],
    nWindows: Long,
    ticksSinceFit: Int,
    bootstrapped: Boolean,
    scaler: Option[ScalerParams],
    weights: Option[Seq[Seq[Double]]],
    pending: Vector[PendingForecast],
    sumSqErr: Double,
    nMatched: Long,
    nEnqueued: Long)

object TickState {
  val empty: TickState =
    TickState(None, None, Vector.empty, Double.PositiveInfinity, Double.NegativeInfinity,
      Vector.empty, 0L, 0, bootstrapped = false, None, None, Vector.empty, 0.0, 0L, 0L)
}

/** Tagged union of everything the pipeline emits per micro-batch; the
  * single output stream that [[StreamingPipeline.start]] fans out to the
  * four sinks (CTL-3: one DAG, several sinks — replacing the reference's
  * process-spawn + monkey-patch tee, `lvmh_forecaster2.py:280-311`).
  *
  * kinds: `tick` (T1 row), `forecast` (T3 pending row), `match` (T3 row
  * resolved with its actual), `rmse` (T4 row). `seq` is the per-ticker
  * FIFO index — the k-th match resolves the k-th forecast (the rank-join
  * law), independent of how label timestamps interleave. */
final case class PipelineEvent(
    ticker: String,
    kind: String,
    ts: Timestamp,
    step: Int,
    seq: Long,
    price: Option[Double],
    variation: Option[Double],
    forecasted: Option[Double],
    actual: Option[Double],
    rmse: Option[Double])

/** The reference's real-time loop (`lvmh_forecaster2.py:338-390`) as one
  * Structured Streaming operator: `flatMapGroupsWithState` keyed by
  * ticker. Each micro-batch is the queue drain (SRC-4 — Structured
  * Streaming's delivery IS the "all rows since last trigger" semantic);
  * each accepted tick advances the state machine one reference cycle:
  *
  *   TR-1 drop unchanged → TR-2 variation vs firstPrice → history append →
  *   ML-2 refit every `updateInterval` accepted ticks (NRM-1 min-max
  *   scaler over the history + ridge on WIN-1 windows, computed locally in
  *   state — a distributed aggregate per retrain would shuffle the world)
  *   → ML-3 forecast from the latest `seqLen` window (NRM-2 frozen
  *   transform, predict, NRM-3 invert) → JN-1 fill the OLDEST pending
  *   forecast with this tick's price (FIFO, not time;
  *   `lvmh_forecaster2.py:168-177`), bootstrap enqueues all `horizon`
  *   steps, later cycles enqueue only the last step (`:158-166,180-185`)
  *   → AGG-2 cumulative RMSE over all matched pairs (`:126-148`).
  *
  * The refit keeps the reference's semantics (scale and fit on the whole
  * history) without its cost: the ridge state holds exact running sums
  * over every window ([[graft.model.WindowSums]]) and the running min and
  * max, so a refit costs O(p³) and a tick O(p·(p + horizon)) at any
  * history length. `maxHistory` turns it into a sliding refit: the window
  * that leaves is subtracted exactly and each refit reads the range off
  * the capped price tail.
  *
  * Scale: state is per-ticker and the stream partitions by ticker hash —
  * 10k tickers spread over the cluster with no cross-key traffic. Ridge
  * state is bounded: a fixed size under the default config, and
  * `maxHistory` prices when capped. Only boost mode, which fits on
  * samples, keeps the whole history unless `maxHistory` caps it.
  */
object StreamingPipeline {

  /** Cap on SNK-5 console rows collected to the driver per micro-batch. */
  private[streaming] val ConsoleMaxRows = 100

  final case class Config(
      seqLen: Int = 10,
      horizon: Int = 5,
      updateInterval: Int = 10,
      labelIntervalMs: Long = 60000L, // reference: timedelta(minutes=step)
      /** Sliding refit: scale and fit on the last `maxHistory` accepted
        * prices only (the state then holds that many prices). The default
        * refits on the whole history, the reference's semantics. */
      maxHistory: Int = Int.MaxValue,
      /** Which Forecaster refits in the loop: "ridge" (closed-form linear,
        * the default) or "boost" ([[graft.model.StableBoost]] — the
        * NONLINEAR in-loop model, the role the reference's LSTM plays in
        * its own retrain cycle, `lvmh_forecaster2.py:62-71,355-357`).
        * Like seqLen/horizon this must be stable across a restart: the
        * state's weights slot is interpreted under the configured model. */
      model: String = "ridge",
      boostRounds: Int = 4)

  /** Boost-model round-trip through the state's `weights` slot. The slot
    * is `Seq[Seq[Double]]` (one row per horizon step) for ridge; the
    * boost fit serializes into the SAME shape — row h = (base(h), then
    * per stump: j, k, leafL, leafR) — because every parameter is an
    * integer ≤ ~2^28 and hence EXACT in a double. Reusing the slot keeps
    * the state-store schema identical across both models: a production
    * stream can switch model at a planned restart without a state
    * migration, and checkpoints never fork on schema. (A switch to ridge
    * rebuilds the window sums from the retained history; a switch to
    * boost starts its history from the ridge state's retained tail.) */
  private[streaming] def encodeBoost(m: graft.model.StableBoost.BoostModel): Seq[Seq[Double]] =
    (0 until m.horizon).map { h =>
      m.base(h).toDouble +: m.stumps(h).toSeq.flatMap(st =>
        Seq(st.j.toDouble, st.k.toDouble, st.leafL.toDouble, st.leafR.toDouble))
    }

  /** Scaled-space grid-units prediction for step h from an encoded boost
    * row — the state-side mirror of `BoostModel.predictQ`. */
  private[streaming] def boostPredictQ(row: Seq[Double], qx: Array[Long]): Long = {
    var s = row.head.toLong
    var i = 1
    while (i + 4 <= row.length) {
      val j = row(i).toInt; val k = row(i + 1).toInt
      val leafL = row(i + 2).toLong; val leafR = row(i + 3).toLong
      s += (if (qx(j - 1) <= graft.model.StableBoost.ThrQ(k - 1)) leafL else leafR)
      i += 4
    }
    s
  }

  /** One reference cycle for one accepted (post-TR-1) tick. Returns the
    * updated state and the events to emit. */
  private[streaming] def cycle(cfg: Config, st: TickState, ticker: String,
                               ts: Timestamp, price: Double): (TickState, List[PipelineEvent]) = {
    val loop = new KeyLoop(cfg, st)
    val out = List.newBuilder[PipelineEvent]
    loop.step(ticker, ts, price, out)
    (loop.state, out.result())
  }

  private def stateFunc(cfg: Config)(ticker: String, ticks: Iterator[RawTick],
                                     state: GroupState[TickState]): Iterator[PipelineEvent] = {
    val loop = new KeyLoop(cfg, state.getOption.getOrElse(TickState.empty))
    val out = List.newBuilder[PipelineEvent]
    // micro-batch iterators are unordered; impose the deterministic
    // (ts, price) order — the SAME tiebreak the batch path uses
    // (BatchReplay.order), so batch/stream unification holds even for
    // same-timestamp ticks (TR-3: timestamps are assigned at the source,
    // injected in replay)
    ticks.toSeq.sortBy(t => (t.timestamp.getTime, t.price)).foreach { t =>
      if (!loop.lastPrice.contains(t.price)) // TR-1
        loop.step(ticker, t.timestamp, t.price, out)
    }
    state.update(loop.state)
    out.result().iterator
  }

  /** The single-operator streaming DAG: ticks → state machine → events. */
  def events(ticks: Dataset[RawTick], cfg: Config = Config()): Dataset[PipelineEvent] = {
    import ticks.sparkSession.implicits._
    ticks.groupByKey(_.ticker)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(stateFunc(cfg))
  }

  /** Start the full pipeline with foreachBatch fan-out (CTL-3): per
    * micro-batch, append tick/forecast+match/rmse slices under `outDir`
    * (parquet append — the scalable streaming sink; single-file CSV
    * exports are end-of-run, [[exportCsv]]) and print SNK-5 progress
    * lines. `trigger` = ProcessingTime for live (CTL-2 cadence),
    * AvailableNow for replay/drain. */
  def start(ticks: Dataset[RawTick], cfg: Config, outDir: String,
            checkpointDir: String, trigger: Trigger,
            console: Boolean = true): StreamingQuery =
    events(ticks, cfg).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[PipelineEvent], batchId: Long) =>
        writeBatch(batch, batchId, outDir, console)
      }
      .start()

  /** One micro-batch's fan-out, IDEMPOTENT per batchId: each slice lands
    * in `<table>/batch=<id>` with overwrite, so a batch replayed after a
    * restart (foreachBatch's at-least-once contract) overwrites its own
    * previous output instead of appending duplicates — the standard
    * exactly-once foreachBatch idiom. Readers see `batch` as a partition
    * column and project it away.
    *
    * One refinement over plain overwrite: an EMPTY slice never replaces
    * an existing batch directory. A source that cannot re-deliver a lost
    * range (HttpPollSource replays it as an empty slice after a restart)
    * would otherwise erase rows that already reached disk — data loss
    * where append mode merely duplicated. Empty dirs are still created
    * on FIRST write so the three table paths always exist for readers. */
  private[streaming] def writeBatch(batch: Dataset[PipelineEvent], batchId: Long,
                                    outDir: String, console: Boolean): Unit = {
    val df = batch.toDF().cache()
    try {
      val counts = df.groupBy("kind").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val hadoopConf = df.sparkSession.sparkContext.hadoopConfiguration
      def writeSlice(slice: DataFrame, table: String, nonEmpty: Boolean): Unit = {
        val path = s"$outDir/$table/batch=$batchId"
        // resolve the filesystem FROM the path (not FileSystem.get's
        // default FS): outDir may live on a different scheme (HDFS/S3)
        // than fs.defaultFS, and probing the wrong FS would defeat the
        // empty-slice guard exactly on the deployments it protects
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(hadoopConf)
        if (nonEmpty || !fs.exists(p))
          slice.write.mode("overwrite").parquet(path)
      }
      writeSlice(df.where(col("kind") === "tick")
          .select("ticker", "ts", "price", "variation"),
        "t1_ticks", counts.getOrElse("tick", 0L) > 0)
      writeSlice(df.where(col("kind").isin("forecast", "match"))
          .select("ticker", "kind", "ts", "step", "seq", "forecasted", "actual"),
        "t3_events", counts.getOrElse("forecast", 0L) + counts.getOrElse("match", 0L) > 0)
      writeSlice(df.where(col("kind") === "rmse")
          .select("ticker", "ts", "rmse"),
        "t4_rmse", counts.getOrElse("rmse", 0L) > 0)
      if (console) { // SNK-5 (`asyncio scraping.py:62`)
        // Bounded driver materialization: at reference rates a batch holds
        // ≤1 tick, but a 10k-ticker deployment would otherwise collect the
        // whole slice to the driver every trigger. sort().limit(N) is a
        // TakeOrdered — executors each keep N rows, the driver merges N.
        val nTicks = counts.getOrElse("tick", 0L)
        val shown = df.where(col("kind") === "tick").sort("ts")
          .limit(ConsoleMaxRows).collect()
        shown.foreach { r =>
          println(CsvSinks.progressLine(r.getAs[Double]("price"),
            r.getAs[Double]("variation"), r.getAs[Timestamp]("ts")))
        }
        if (nTicks > shown.length)
          println(s"... and ${nTicks - shown.length} more ticks in batch $batchId")
      }
    } finally { df.unpersist(); () }
  }

  /** T3 as the reference exports it ([[graft.schema.ForecastRow]] rows):
    * every forecast row, matched ones carrying their actual (the k-th
    * match resolves the k-th forecast — JN-1's rank-join law, joined on
    * the state machine's FIFO `seq`), unmatched tail keeping NULL
    * actuals. */
  def composeComparison(t3Events: DataFrame): Dataset[graft.schema.ForecastRow] = {
    import t3Events.sparkSession.implicits._
    val f = t3Events.where(col("kind") === "forecast")
      .select(col("ticker"), col("ts"), col("seq"), col("forecasted"))
    val m = t3Events.where(col("kind") === "match")
      .select(col("ticker"), col("ts").as("actual_ts"), col("seq"), col("actual"))
    f.join(m, Seq("ticker", "seq"), "left")
      .select(col("ticker"),
        coalesce(col("actual_ts"), col("ts")).as("timestamp"), // `:176`
        col("actual").as("actual_price"),
        col("forecasted").as("forecasted_price"))
      .as[graft.schema.ForecastRow]
  }

  /** T1 as typed [[graft.schema.Tick]] rows. */
  def composeTicks(t1: DataFrame): Dataset[graft.schema.Tick] = {
    import t1.sparkSession.implicits._
    t1.select(col("ticker"), col("ts").as("timestamp"), col("price"), col("variation"))
      .as[graft.schema.Tick]
  }

  /** T4 as typed [[graft.schema.RmsePoint]] rows. */
  def composeRmse(t4: DataFrame): Dataset[graft.schema.RmsePoint] = {
    import t4.sparkSession.implicits._
    t4.select(col("ticker"), col("ts").as("timestamp"), col("rmse"))
      .as[graft.schema.RmsePoint]
  }

  /** CTL-1 — graceful shutdown: drain what's available (bounded), stop,
    * then export the T1/T3/T4 CSVs with the reference's timestamped names
    * (SNK-1..4).
    *
    * The drain MUST be bounded: `processAllAvailable` only returns once no
    * new data is available, and a LIVE poll source never reaches that
    * state (every trigger fetches another tick — the stream is its own
    * producer), so an unbounded drain would hang shutdown forever. Replay
    * drains (MemoryStream fixtures, AvailableNow) complete well inside the
    * default; a live query simply stops after the bounded grace period —
    * exactly the reference's Ctrl-C semantics (export what you have,
    * `lvmh_forecaster2.py:392-399`). */
  def stopAndExport(query: StreamingQuery, spark: SparkSession, outDir: String,
                    exportAt: java.time.Instant,
                    drainTimeoutMs: Long = 30000L): Seq[String] = {
    val drain = new Thread(() =>
      try query.processAllAvailable()
      catch { case _: Throwable => () }) // stream already stopped/failed: nothing to drain
    drain.setDaemon(true)
    drain.start()
    drain.join(drainTimeoutMs)
    query.stop()
    exportCsv(spark, outDir, exportAt)
  }

  def exportCsv(spark: SparkSession, outDir: String,
                at: java.time.Instant): Seq[String] = {
    // total orders on every export => byte-stable files across replays
    val t1 = composeTicks(spark.read.parquet(s"$outDir/t1_ticks"))
      .orderBy("ticker", "timestamp", "price")
    val t3 = composeComparison(spark.read.parquet(s"$outDir/t3_events"))
      .orderBy("ticker", "timestamp", "forecasted_price", "actual_price")
    val t4 = composeRmse(spark.read.parquet(s"$outDir/t4_rmse"))
      .orderBy("ticker", "timestamp", "rmse")
    Seq(
      CsvSinks.writeTimestampedCsv(t1.toDF(), outDir, "price_data", at), // SNK-1
      CsvSinks.writeTimestampedCsv(
        t1.select(col("ticker"), col("timestamp"), col("price")),
        outDir, "actual_data", at),                                      // SNK-2
      CsvSinks.writeTimestampedCsv(t3.toDF(), outDir, "forecast_comparison", at), // SNK-3
      CsvSinks.writeTimestampedCsv(t4.toDF(), outDir, "rmse_history", at)) // SNK-4
  }
}

/** One key's state machine, mutable for the length of one micro-batch:
  * decoded from its [[TickState]] once, stepped once per accepted tick,
  * encoded back once. The retained price tail is a ring. Uncapped, the
  * range is the running min and max; when `maxHistory` caps the ring, it
  * is the ring's min and max, read at each refit and at encode. */
private[streaming] final class KeyLoop(cfg: StreamingPipeline.Config, st: TickState) {
  import scala.collection.mutable
  require(cfg.maxHistory > 0, s"maxHistory must be positive, got ${cfg.maxHistory}")

  private val ridge = cfg.model != "boost"
  private val width = cfg.seqLen + cfg.horizon
  private val sliding = cfg.maxHistory != Int.MaxValue
  private val retain = if (!ridge || sliding) cfg.maxHistory else width

  private var first = st.firstPrice
  private var last = st.lastPrice
  private val ring = mutable.ArrayDeque.from(st.history)
  private var minP = st.minPrice
  private var maxP = st.maxPrice
  private var ticksSinceFit = st.ticksSinceFit
  private var bootstrapped = st.bootstrapped
  private var scaler = st.scaler
  private var weights = st.weights
  private var pending = st.pending
  private var sumSq = st.sumSqErr
  private var nMatched = st.nMatched
  private var nEnqueued = st.nEnqueued

  private def centre: Double = first.getOrElse(0.0)
  private def grid(p: Double): Long = WindowSums.quantize(p, centre)
  private def window(from: Int): Array[Long] = Array.tabulate(width)(i => grid(ring(from + i)))

  // Sums are rebuilt from the retained prices when the state has none
  // (a fresh key, or a restart that switched from boost) or, under a cap,
  // when they cover other windows than the retained ones (a restart that
  // switched from the uncapped config).
  private val sums: Option[WindowSums] =
    if (!ridge) None
    else if (st.windowSums.nonEmpty &&
        (!sliding || st.nWindows == math.max(0, ring.size - width + 1)))
      Some(WindowSums.decode(cfg.seqLen, cfg.horizon, st.windowSums, st.nWindows))
    else Some(WindowSums.rebuild(ring.map(grid).toIndexedSeq, cfg.seqLen, cfg.horizon))

  while (ring.size > retain) evictHead()

  /** Drop the oldest retained price; under a cap its window leaves the
    * refit too (the default ridge sums keep every window). */
  private def evictHead(): Unit = {
    if (sliding && ring.size >= width) sums.foreach(_.subtract(window(0)))
    ring.removeHead()
  }

  private def push(price: Double): Unit = {
    if (ring.size == retain) evictHead()
    ring.append(price)
    if (!sliding) { minP = math.min(minP, price); maxP = math.max(maxP, price) }
    if (ring.size >= width) sums.foreach(_.add(window(ring.size - width)))
  }

  /** Under a cap, set the range to the retained ring's. */
  private def capRange(): Unit =
    if (sliding && ring.nonEmpty) { minP = ring.min; maxP = ring.max }

  def lastPrice: Option[Double] = last

  def state: TickState = {
    capRange()
    TickState(first, last, ring.toVector, minP, maxP,
      sums.fold(Vector.empty[Long])(_.toVector), sums.fold(0L)(_.windows), ticksSinceFit,
      bootstrapped, scaler, weights, pending, sumSq, nMatched, nEnqueued)
  }

  /** One reference cycle for one accepted (post-TR-1) tick. */
  def step(ticker: String, ts: Timestamp, price: Double,
           out: mutable.Growable[PipelineEvent]): Unit = {
    if (price.isNaN || price.isInfinite)
      throw new IllegalArgumentException(s"ticker $ticker at $ts: price $price is not finite")
    val c = first.getOrElse(price)
    first = Some(c)
    last = Some(price)
    out += PipelineEvent(ticker, "tick", ts, 0, 0L, Some(price), Some(price / c - 1.0),
      None, None, None)
    // the ridge sums raise on a price off the grid's range (checked here,
    // before the price waits in the ring for a full window) and on a cell
    // overflow; both fail the query naming the tick that caused them
    try { if (ridge) grid(price); push(price) }
    catch {
      case e: ArithmeticException =>
        throw new IllegalArgumentException(
          s"ticker $ticker at $ts: price $price cannot enter the window sums: ${e.getMessage}", e)
    }
    ticksSinceFit += 1

    // ML-2 retrain trigger (`lvmh_forecaster2.py:355-357`): every
    // updateInterval accepted ticks, given enough history for one window.
    if (ticksSinceFit >= cfg.updateInterval && ring.size >= width) {
      capRange()
      val s = ScalerParams(minP, maxP) // NRM-1 over the history (or the cap)
      weights = Some(sums match {
        case Some(w) =>
          w.fit(grid(minP), grid(maxP)).weights.map(_.toSeq).toSeq
        case None =>
          // the nonlinear in-loop refit: StableBoost.fitLocal is the exact
          // arithmetic the batch ml1_boost_forecast_per_key query runs per
          // key, so stream-vs-batch parity is bit-level (StreamingBoostSpec)
          val scaled = ring.map(s.scale)
          val samples = (0 to scaled.size - width).map { i =>
            (scaled.slice(i, i + cfg.seqLen).toArray,
              scaled.slice(i + cfg.seqLen, i + width).toArray)
          }
          StreamingPipeline.encodeBoost(graft.model.StableBoost.fitLocal(
            samples, cfg.seqLen, cfg.horizon, cfg.boostRounds))
      })
      scaler = Some(s)
      ticksSinceFit = 0
    }

    // JN-1 FIFO fill BEFORE appending this cycle's forecast
    // (`lvmh_forecaster2.py:168-185` fills, then appends).
    if (pending.nonEmpty) {
      val oldest = pending.head
      pending = pending.tail
      sumSq += (price - oldest.forecasted) * (price - oldest.forecasted)
      nMatched += 1
      // reference overwrites the row's ts with the actual's ts (`:176`)
      out += PipelineEvent(ticker, "match", ts, oldest.step, nMatched, None, None,
        Some(oldest.forecasted), Some(price), None)
      out += PipelineEvent(ticker, "rmse", ts, 0, nMatched, None, None, None, None,
        Some(math.sqrt(sumSq / nMatched)))
    }

    // ML-3 forecast + enqueue (bootstrap: all steps; after: last step only)
    (weights, scaler) match {
      case (Some(w), Some(s)) if ring.size >= cfg.seqLen =>
        val lags = Array.tabulate(cfg.seqLen)(i => s.scale(ring(ring.size - cfg.seqLen + i)))
        val preds = if (ridge) w.map { wh =>
          var acc = wh.head
          var i = 0
          while (i < cfg.seqLen) { acc += wh(i + 1) * lags(i); i += 1 }
          s.invert(acc) // NRM-3
        } else {
          val qx = lags.map(graft.model.StableRidge.quantizeLong)
          w.map { row =>
            s.invert(StreamingPipeline.boostPredictQ(row, qx).toDouble /
              graft.model.StableRidge.Q.toDouble) // NRM-3
          }
        }
        val steps = if (bootstrapped) Seq(cfg.horizon) else 1 to cfg.horizon
        steps.foreach { k =>
          // Reference stamping parity (`lvmh_forecaster2.py:162,181`): the
          // bootstrap burst stamps timedelta(minutes=i) for i in
          // 0..horizon-1 (step k → k-1 intervals), while steady-state
          // stamps minutes=horizon for its single last-step row. Matching
          // is FIFO-by-seq and the match overwrites ts, so this only
          // affects the NULL-tail rows' displayed timestamps.
          val intervals = if (bootstrapped) k else k - 1
          val labelTs = ts.getTime + intervals * cfg.labelIntervalMs
          pending = pending :+ PendingForecast(k, labelTs, preds(k - 1))
          nEnqueued += 1
          out += PipelineEvent(ticker, "forecast", new Timestamp(labelTs), k, nEnqueued,
            None, None, Some(preds(k - 1)), None, None)
        }
        bootstrapped = true
      case _ =>
    }
  }
}
