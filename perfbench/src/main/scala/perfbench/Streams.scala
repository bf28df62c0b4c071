package perfbench

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.schema.RawTick
import graft.streaming.StreamingPipeline

/** The live-loop workload, stream-history. A closed loop: one producer
  * adds an equal-size `MemoryStream` batch and waits for it
  * (`processAllAvailable`) before adding the next. A pass is one fresh stream query over the whole
  * tick schedule; passes repeat until the run's time is up, so every pass
  * sees the same history lengths at the same batch positions. */
object Streams {
  /** Two keys, each growing a 10k-tick history: the refit over the whole
    * history (the reference's quadratic shape) dominates late batches. */
  val HistoryKeys = 2
  val HistoryBatches = 10
  val HistoryTicksPerKeyPerBatch = 1000
  val WarmupBatches = 4
  val SinkBatches = 5

  val Base = 1700000000000L

  /** Seeded price walk on the 0.01 grid; about one tick in twenty repeats
    * the previous price, so the change filter has work to drop. */
  def walk(rnd: scala.util.Random, n: Int): Array[Double] = {
    val p = new Array[Double](n)
    var x = 100.0 + rnd.nextInt(100)
    var i = 0
    while (i < n) {
      if (rnd.nextDouble() >= 0.05)
        x = math.max(1.0, math.round((x + rnd.nextGaussian() * 0.5) * 100) / 100.0)
      p(i) = x; i += 1
    }
    p
  }

  def historyPlan(seed: Long): Seq[Seq[RawTick]] = {
    val rnd = new scala.util.Random(seed)
    val n = HistoryBatches * HistoryTicksPerKeyPerBatch
    val prices = (0 until HistoryKeys).map(_ => walk(rnd, n))
    (0 until HistoryBatches).map { b =>
      for {
        j <- b * HistoryTicksPerKeyPerBatch until (b + 1) * HistoryTicksPerKeyPerBatch
        k <- 0 until HistoryKeys
      } yield RawTick(s"H$k", new Timestamp(Base + j * 1000L), prices(k)(j))
    }
  }

  /** Time `RidgeForecaster.fitLocal` on windows of one seeded history, at
    * 1k, 10k and the workload's longest per-key history. The sizes take
    * turns, round after round, so drift during the layer (JIT, GC) weighs
    * on every size alike. */
  def modelLayer(seed: Long, hmax: Int): Map[String, Seq[Double]] = {
    val h = walk(new scala.util.Random(seed), hmax)
    val sizes = Seq("h1k" -> 1000, "h10k" -> 10000, "hmax" -> hmax)
    val inputs = sizes.map { case (_, n) =>
      val hist = h.takeRight(n)
      val s = graft.schema.ScalerParams(hist.min, hist.max)
      val scaled = hist.map(s.scale)
      (0 to scaled.length - 15).map(i => (scaled.slice(i, i + 10), scaled.slice(i + 10, i + 15)))
    }
    val f = new graft.model.RidgeForecaster(10, 5)
    def round(): Seq[Double] = inputs.map { samples =>
      val t0 = System.nanoTime(); f.fitLocal(samples); (System.nanoTime() - t0) / 1e6
    }
    (1 to 5).foreach(_ => round()) // JIT warm-up: the sweeps never call fitLocal before this
    val rounds = (1 to 11).map(_ => round())
    sizes.indices.map(i => s"model.fit_ms.${sizes(i)._1}" -> rounds.map(_(i))).toMap
  }

  def run(a: Args): Map[String, Any] = {
    val plan = historyPlan(a.seed)
    val ticks = plan.map(_.size).sum
    val keys = plan.flatten.map(_.ticker).distinct.size
    val maxHistory = plan.flatten.groupBy(_.ticker).values.map(_.size).max

    var spark: SparkSession = null
    var passNo = 0
    val startS = scala.collection.mutable.Map[String, Double]()
    def startQuery(): (StreamingQuery, MemoryStream[RawTick], String) = {
      val name = s"events_$passNo"; passNo += 1
      val t0 = System.nanoTime()
      val ms = memoryStream(spark)
      val q = StreamingPipeline.events(ms.toDS()).writeStream.format("memory")
        .queryName(name).outputMode("append").start()
      startS(name) = Common.secs(t0)
      (q, ms, name)
    }
    // Set-up, repeated: a fresh session and a started stream query.
    var pending: Option[(StreamingQuery, MemoryStream[RawTick], String)] = None
    val setups = Common.setups(a.setups) {
      pending.foreach(_._1.stop())
      spark = Common.session(a.cores)
      passNo = 0
      pending = Some(startQuery())
    }
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    def fail(key: String, e: Throwable): Unit = errors(key) = Common.describe(e)

    // Warm-up, untimed: a short stream on its own query pays the first
    // run's class loading and JIT, so timed batches measure warm code.
    val w0 = System.nanoTime()
    pending.foreach { case (q, ms, table) =>
      try feed(q, ms, historyPlan(a.seed + 1).take(WarmupBatches), None, fail) finally q.stop()
      spark.catalog.dropTempView(table)
    }
    val warmS = Common.secs(w0)

    val listeners = if (a.trace) Some(new Listeners(spark)) else None
    val tracer = new Tracer
    val passes = ArrayBuffer[Map[String, Any]]()
    val readyMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    def lastWall = passes.lastOption.fold(0.0)(_("wall_s").asInstanceOf[Double])
    while (Common.morePasses(a, passes.size, lastWall, Common.secs(t0))) {
      val traced = a.trace && Common.tracedPass(passes.size)
      val (q, ms, table) = startQuery()
      val ((ops, wall), counters) = Common.pass(listeners, traced) {
        val p0 = System.nanoTime()
        val ops = try feed(q, ms, plan, listeners.filter(_ => traced).map((tracer, _)), fail)
          finally q.stop()
        (ops, Common.secs(p0))
      }
      passes += Map("traced" -> traced, "wall_s" -> wall, "ops" -> ops,
        "start_s" -> startS(table), "counters" -> counters)
      // the first timed pass's output stays for the checks
      if (passes.size > 1) spark.catalog.dropTempView(table)
    }
    val timedS = Common.secs(t0)

    // Output check, untimed: the laws on what the first timed pass emitted.
    val c0 = System.nanoTime()
    val checks = check(spark, spark.table("events_1"), plan,
      passes.head("ops").asInstanceOf[Seq[Map[String, Any]]])
    val checkS = Common.secs(c0)

    val layers =
      if (a.trace) Common.tablesLayer(spark, a.data) ++ modelLayer(a.seed, maxHistory) ++
        sinkLayer(spark, a, plan, fail)
      else Map.empty[String, Seq[Double]]
    spark.stop()
    Map("setup_s" -> setups, "warm_s" -> warmS, "check_s" -> checkS, "ready_ms" -> readyMs,
      "timed_s" -> timedS,
      "passes" -> passes, "errors" -> errors, "layers" -> layers, "spans" -> tracer.spans.map(_.toMap),
      "checks" -> checks, "ticks_per_pass" -> ticks, "keys" -> keys, "max_history" -> maxHistory)
  }

  private def memoryStream(spark: SparkSession): MemoryStream[RawTick] = {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    MemoryStream[RawTick]
  }

  /** Closed loop over the schedule: add one batch, wait for it, repeat.
    * Each batch's wall time, progress durations and state figures. */
  private def feed(q: StreamingQuery, ms: MemoryStream[RawTick], plan: Seq[Seq[RawTick]],
                   trace: Option[(Tracer, Listeners)],
                   fail: (String, Throwable) => Unit): Seq[Map[String, Any]] = {
    var lastBatchId = -1L
    plan.zipWithIndex.map { case (batch, b) =>
      val b0 = Clock.ms()
      val t0 = System.nanoTime()
      val ok = try { ms.addData(batch); q.processAllAvailable(); true }
      catch { case e: Throwable => fail(s"batch$b", e); false }
      val t = Common.secs(t0)
      val b1 = Clock.ms()
      val progress = q.recentProgress.filter(_.batchId > lastBatchId).toSeq
      progress.lastOption.foreach(p => lastBatchId = p.batchId)
      val dur = progress.flatMap(p => durations(p.durationMs)).groupMapReduce(_._1)(_._2)(_ + _)
      val st = progress.lastOption.flatMap(_.stateOperators.headOption)
      trace.foreach { case (tracer, ls) =>
        val r = tracer.root(s"batch$b", b0, b1)
        ls.exec.settle()
        ls.exec.drainJobs().foreach { case (s, e, _) => tracer.add("exec.job", r, s, e) }
        PhaseEvents.drain().foreach(_.foreach { case (ph, (s, e)) =>
          tracer.add(s"catalyst.$ph", r, s, e) })
      }
      Map("name" -> s"batch$b", "t_s" -> t, "ok" -> ok, "ticks" -> batch.size,
        "duration_ms" -> dur,
        "state" -> st.map(s => Map("rows_total" -> s.numRowsTotal,
          "rows_updated" -> s.numRowsUpdated, "memory_bytes" -> s.memoryUsedBytes,
          "commit_ms" -> s.commitTimeMs, "update_ms" -> s.allUpdatesTimeMs))
          .getOrElse(Map.empty))
    }
  }

  /** The write side, timed in the traced run: the first `SinkBatches` of
    * the schedule through `StreamingPipeline.start` (the foreachBatch
    * parquet fan-out `Live` uses), then `exportCsv`. Files and bytes are
    * counted exactly. */
  private def sinkLayer(spark: SparkSession, a: Args, plan: Seq[Seq[RawTick]],
                        fail: (String, Throwable) => Unit): Map[String, Seq[Double]] = {
    val dir = new java.io.File(a.out, "sink")
    Common.deleteTree(dir)
    val out = new java.io.File(dir, "out").getPath
    val ms = memoryStream(spark)
    val q = StreamingPipeline.start(ms.toDS(), StreamingPipeline.Config(), out,
      new java.io.File(dir, "ckpt").getPath, Trigger.ProcessingTime(0L), console = false)
    val ops = try feed(q, ms, plan.take(SinkBatches), None, fail) finally q.stop()
    val e0 = System.nanoTime()
    try StreamingPipeline.exportCsv(spark, out, java.time.Instant.ofEpochMilli(Base))
    catch { case e: Throwable => fail("export", e) }
    val exportS = Common.secs(e0)
    val (files, bytes) = Common.fileStats(new java.io.File(out))
    Map("sink.batch_p50_s" -> ops.map(_("t_s").asInstanceOf[Double]),
      "sink.export_s" -> Seq(exportS), "sink.files_written" -> Seq(files.toDouble),
      "sink.bytes_written" -> Seq(bytes.toDouble))
  }

  private def durations(m: java.util.Map[String, java.lang.Long]): Seq[(String, Double)] = {
    val b = Seq.newBuilder[(String, Double)]
    m.forEach((k, v) => b += (k -> v.toDouble)); b.result()
  }

  /** Laws computed from the generated input, checked on the first timed
    * pass's output: T1 equals the batch replay's ticks; per key the
    * forecast and match counts follow the FIFO law; every emitted RMSE
    * equals the RMSE recomputed from the emitted match rows; the state holds
    * one row per key. Each law reports how many rows or keys break it. */
  private def check(spark: SparkSession, events: DataFrame, plan: Seq[Seq[RawTick]],
                    ops: Seq[Map[String, Any]]): Seq[Map[String, Any]] = {
    import spark.implicits._
    val cfg = StreamingPipeline.Config()
    def law(name: String)(body: => Long): Map[String, Any] =
      try { val bad = body; Map("name" -> name, "ok" -> (bad == 0), "bad" -> bad) }
      catch { case e: Throwable => Map("name" -> name, "ok" -> false, "bad" -> -1,
        "error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val rows = events.select("ticker", "kind", "ts", "seq", "price", "variation",
      "forecasted", "actual", "rmse").collect().toSeq
    def ofKind(k: String) = rows.filter(_.getString(1) == k)
    def ts(r: org.apache.spark.sql.Row) = r.getTimestamp(2).getTime

    val t1Law = law("t1_equals_batch_replay") {
      val raw = plan.flatten.toDF().select($"ticker", $"timestamp".as("ts"), $"price")
      val replay = graft.pipeline.BatchReplay.run(spark, raw).ticks
        .select("ticker", "ts", "price", "variation").collect()
        .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getDouble(2), r.getDouble(3)))
      val t1 = ofKind("tick").map(r => (r.getString(0), ts(r), r.getDouble(4), r.getDouble(5)))
      val (a, b) = (t1.groupBy(identity).view.mapValues(_.size).toMap,
        replay.toSeq.groupBy(identity).view.mapValues(_.size).toMap)
      (a.keySet ++ b.keySet).toSeq.map(k => math.abs(a.getOrElse(k, 0) - b.getOrElse(k, 0))).sum
    }
    // FIFO: the first fit lands on accepted tick t0 and enqueues `horizon`
    // forecasts; every later accepted tick matches one and enqueues one.
    val t0 = math.max(cfg.updateInterval, cfg.seqLen + cfg.horizon)
    val fifoLaw = law("fifo_counts") {
      def per(k: String) = ofKind(k).groupBy(_.getString(0)).view.mapValues(_.size).toMap
      val (n, f, m) = (per("tick"), per("forecast"), per("match"))
      n.count { case (key, nk) =>
        val mk = m.getOrElse(key, 0); val fk = f.getOrElse(key, 0)
        mk != math.max(0, nk - t0) || fk != (if (nk >= t0) mk + cfg.horizon else 0)
      }.toLong
    }
    val rmseLaw = law("rmse_recomputed") {
      val want = ofKind("match").groupBy(_.getString(0)).toSeq.flatMap { case (key, ms) =>
        var sq = 0.0
        ms.sortBy(_.getLong(3)).map { r =>
          val d = r.getDouble(7) - r.getDouble(6); sq += d * d
          (key, ts(r)) -> math.sqrt(sq / r.getLong(3))
        }
      }.toMap
      val got = ofKind("rmse").map(r => (r.getString(0), ts(r)) -> r.getDouble(8)).toMap
      (want.keySet ++ got.keySet).count { k =>
        (want.get(k), got.get(k)) match {
          case (Some(w), Some(g)) => math.abs(w - g) > 1e-9 * math.max(1.0, math.abs(w))
          case _ => true
        }
      }.toLong
    }
    val keys = plan.flatten.map(_.ticker).distinct.size.toLong
    val stateLaw = law("state_rows_equal_keys") {
      ops.lastOption.flatMap(_("state").asInstanceOf[Map[String, Any]].get("rows_total"))
        .fold(-1L)(r => math.abs(r.toString.toLong - keys))
    }
    Seq(t1Law, fifoLaw, rmseLaw, stateLaw)
  }
}
