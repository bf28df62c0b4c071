package graft.streaming

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.hadoop.fs.{FileContext, FileSystem}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.io.{ForkFreeLocalFileSystem, ForkFreeLocalFs, LocalFsSpec}
import graft.schema.RawTick

/** SURVEY §5.3 — end-to-end replay of the reference pipeline on a fixture
  * tick stream: deterministic T1–T4, the FIFO law, cumulative RMSE, and
  * byte-stable sink exports across runs. */
class StreamingPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = StreamingPipeline.Config() // 10 lags, 5 steps, refit every 10

  /** 40 ticks, 1 s apart; positions 5 and 6 repeat the prior price (TR-1
    * must drop them). Seeded walk — same fixture every run. */
  private def fixture: Vector[RawTick] = {
    val rnd = new scala.util.Random(1234)
    var p = 100.0
    (0 until 40).map { i =>
      if (i == 5 || i == 6) () // repeat previous price
      else p = math.max(1.0, p + rnd.nextGaussian())
      RawTick("MC.PA", new Timestamp(1700000000000L + i * 1000L), math.round(p * 100) / 100.0)
    }.toVector
  }

  /** Accepted (post-TR-1) fixture ticks. */
  private def accepted: Vector[RawTick] =
    fixture.foldLeft(Vector.empty[RawTick]) { (acc, t) =>
      if (acc.nonEmpty && acc.last.price == t.price) acc else acc :+ t
    }

  test("console sink is bounded: a large micro-batch never materializes on the driver") {
    val n = 5000
    val events = (0 until n).map { i =>
      PipelineEvent("T", "tick", new Timestamp(1700000000000L + i * 1000L), 0, 0L,
        Some(100.0 + i), Some(0.0), None, None, None)
    }
    val out = Files.createTempDirectory("graft_console").toString
    val baos = new java.io.ByteArrayOutputStream()
    Console.withOut(baos) {
      StreamingPipeline.writeBatch(events.toDS(), batchId = 0L, out, console = true)
    }
    val lines = baos.toString("UTF-8").linesIterator.toSeq
    val progress = lines.count(_.startsWith("Price:"))
    assert(progress == StreamingPipeline.ConsoleMaxRows,
      s"progress lines must be capped, got $progress")
    assert(lines.exists(_.contains(s"and ${n - StreamingPipeline.ConsoleMaxRows} more ticks")),
      "overflow must be summarized, not printed")
    // the parquet sink still carries the FULL batch — only the console view is capped
    assert(spark.read.parquet(s"$out/t1_ticks").count() == n)
  }

  private def runReplay(batchSize: Int): Seq[PipelineEvent] = {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[RawTick]
    val name = s"ev_${System.nanoTime()}"
    val q = StreamingPipeline.events(ms.toDS(), cfg).writeStream
      .format("memory").queryName(name).outputMode("append").start()
    try {
      fixture.grouped(batchSize).foreach { b => ms.addData(b); q.processAllAvailable() }
    } finally q.stop()
    spark.table(name).as[PipelineEvent].collect().toSeq
      .sortBy(e => (e.ts.getTime, e.kind, e.step))
  }

  test("replay produces deterministic T1: TR-1 filtered ticks with TR-2 variation") {
    val ev = runReplay(5)
    val ticks = ev.filter(_.kind == "tick")
    assert(ticks.length == accepted.length && ticks.length == 38)
    val first = accepted.head.price
    ticks.zip(accepted).foreach { case (got, exp) =>
      assert(got.ts == exp.timestamp && got.price.contains(exp.price))
      assert(math.abs(got.variation.get - (exp.price / first - 1.0)) < 1e-12)
    }
  }

  test("bootstrap emits horizon forecasts at the first fit; one per cycle after; FIFO matches") {
    val ev = runReplay(5)
    val forecasts = ev.filter(_.kind == "forecast").sortBy(_.seq)
    val matches = ev.filter(_.kind == "match").sortBy(_.seq)
    // first fit at accepted tick 15 (counter >= 10 and >= 15 rows), then
    // bootstrap 5 + one per later tick: 5 + (38 - 15) = 28
    assert(forecasts.length == 5 + (38 - 15))
    assert(forecasts.take(5).map(_.step).toSeq == (1 to 5))
    assert(forecasts.drop(5).forall(_.step == 5))
    // FIFO law: k-th match carries the k-th accepted price after the fit
    assert(matches.length == 38 - 15)
    matches.zipWithIndex.foreach { case (m, i) =>
      assert(m.actual.contains(accepted(15 + i).price), s"match $i actual")
      assert(m.forecasted == forecasts(i).forecasted, s"match $i forecast pairing")
    }
  }

  test("cumulative RMSE equals the closed form over matched pairs") {
    val ev = runReplay(5)
    val matches = ev.filter(_.kind == "match").sortBy(_.seq)
    val rmses = ev.filter(_.kind == "rmse").sortBy(_.seq)
    assert(rmses.length == matches.length)
    var sumSq = 0.0
    matches.zip(rmses).zipWithIndex.foreach { case ((m, r), i) =>
      val err = m.actual.get - m.forecasted.get
      sumSq += err * err
      assert(math.abs(r.rmse.get - math.sqrt(sumSq / (i + 1))) < 1e-12)
    }
  }

  test("replay is batching-invariant and run-deterministic") {
    val a = runReplay(5)
    val b = runReplay(5)
    assert(a == b, "same batching, different events")
    val c = runReplay(7) // different micro-batch boundaries, same stream
    assert(a == c, "batch boundaries changed the result")
  }

  test("checkpoint restart mid-retrain-loop equals an uninterrupted run (both models)") {
    // The production restart law: kill the query after the first refit
    // has landed in GroupState, start a BRAND-NEW query on the same
    // checkpoint, feed the rest of the stream — the full event sequence
    // must be identical to never having stopped. A state-encoding field
    // the snapshot misses (scaler params, FIFO buffer, refit counter, or
    // a model weights slot — ridge matrix or boost stumps) diverges the
    // continuation and fails here. The sliding case caps the history at
    // 18 prices, so by the stop windows have already left the ridge sums
    // and the range deques are rebuilt from the restored price tail.
    val configs = Seq("ridge" -> cfg, "boost" -> cfg.copy(model = "boost"),
      "ridge_sliding" -> cfg.copy(maxHistory = 18))
    for ((model, mcfg) <- configs) {
      def run(splitAt: Option[Int]): Seq[PipelineEvent] = {
        implicit val sql = spark.sqlContext
        val dir = Files.createTempDirectory(s"graft_restart_$model").toString
        val ms = MemoryStream[RawTick]
        def start() = StreamingPipeline.events(ms.toDS(), mcfg)
          .writeStream.format("parquet")
          .option("path", s"$dir/out").option("checkpointLocation", s"$dir/chk")
          .outputMode("append").start()
        splitAt match {
          case None =>
            val q = start()
            try { ms.addData(fixture: _*); q.processAllAvailable() } finally q.stop()
          case Some(n) =>
            val (head, tail) = fixture.splitAt(n)
            val q1 = start()
            try { ms.addData(head: _*); q1.processAllAvailable() } finally q1.stop()
            val q2 = start() // new query object, same checkpoint
            try { ms.addData(tail: _*); q2.processAllAvailable() } finally q2.stop()
        }
        spark.read.parquet(s"$dir/out").as[PipelineEvent].collect().toSeq
          .sortBy(e => (e.ts.getTime, e.kind, e.step, e.seq))
      }
      val uninterrupted = run(None)
      // 22 ticks > lags+refit window: the first fit (and for boost its
      // encoded stump state) is in GroupState when the stop hits
      val restarted = run(Some(22))
      assert(uninterrupted.nonEmpty, s"$model: no events")
      assert(restarted == uninterrupted,
        s"$model: restart from checkpoint diverged from the uninterrupted run")
    }
  }

  test("a NaN price fails the query with an error naming the ticker and timestamp") {
    implicit val sql = spark.sqlContext
    val ms = MemoryStream[RawTick]
    val q = StreamingPipeline.events(ms.toDS(), cfg).writeStream
      .format("memory").queryName(s"nan_${System.nanoTime()}").outputMode("append").start()
    val badTs = new Timestamp(1700000003500L)
    try {
      ms.addData(fixture.take(4) :+ RawTick("MC.PA", badTs, Double.NaN))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](q.processAllAvailable())
      val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString("\n")
      assert(messages.contains("ticker MC.PA") && messages.contains(badTs.toString) &&
        messages.contains("NaN"), messages)
    } finally q.stop()
  }

  test("micro-batches spawn no process: checkpoint I/O binds the fork-free file: filesystem") {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(java.net.URI.create("file:///"), hadoopConf).isInstanceOf[ForkFreeLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(hadoopConf).getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])
    implicit val sql = spark.sqlContext
    val out = Files.createTempDirectory("graft_spawn_out").toString
    val ckpt = Files.createTempDirectory("graft_spawn_ckpt").toString
    val ms = MemoryStream[RawTick]
    val q = StreamingPipeline.start(ms.toDS(), cfg, out, ckpt, Trigger.ProcessingTime(0), console = false)
    try {
      def batch(ticks: Seq[RawTick]): Unit = { ms.addData(ticks); q.processAllAvailable() }
      val batches = fixture.grouped(10).toSeq
      batch(batches.head)
      // batches 2–4: offset log, state deltas + checksum files, commit log, parquet slices
      val forked = LocalFsSpec.spawns(batches.slice(1, 4).foreach(batch))
      assert(forked.isEmpty, s"${forked.size} process spawns in micro-batches 2-4:\n${forked.mkString("\n")}")
      assert(Files.exists(Paths.get(ckpt, "commits", "3")), "the recorded batches did not commit")
    } finally q.stop()
  }

  test("full DAG with foreachBatch fan-out: sinks byte-stable across replays (SNK-1..4, CTL-1/3)") {
    def runOnce(tag: String): Map[String, String] = {
      implicit val sql = spark.sqlContext
      val out = Files.createTempDirectory(s"graft_$tag").toString
      val ckpt = Files.createTempDirectory(s"graft_ckpt_$tag").toString
      val ms = MemoryStream[RawTick]
      val q = StreamingPipeline.start(ms.toDS(), cfg, out, ckpt,
        Trigger.ProcessingTime(0), console = false)
      fixture.grouped(5).foreach { b => ms.addData(b); q.processAllAvailable() }
      val files = StreamingPipeline.stopAndExport(q, spark, out,
        java.time.Instant.parse("2026-01-01T00:00:00Z"))
      files.map { f =>
        val p = Paths.get(f)
        p.getFileName.toString -> new String(Files.readAllBytes(p), "UTF-8")
      }.toMap
    }
    val run1 = runOnce("a")
    val run2 = runOnce("b")
    assert(run1.keySet == Set(
      "price_data_20260101_000000.csv", "actual_data_20260101_000000.csv",
      "forecast_comparison_20260101_000000.csv", "rmse_history_20260101_000000.csv"))
    run1.foreach { case (name, content) =>
      assert(content.nonEmpty && content.linesIterator.next().contains(","))
      assert(run2(name) == content, s"$name not byte-stable")
    }
    // T3 shape: forecasts matched in FIFO order, NULL tail for pending
    val t3 = run1("forecast_comparison_20260101_000000.csv").linesIterator.toSeq
    assert(t3.head == "ticker,timestamp,actual_price,forecasted_price")
    val nullTail = t3.tail.count(_.split(",", -1)(2).isEmpty)
    assert(nullTail == 5, "unmatched pending forecasts should keep NULL actuals")
  }

  test("writeBatch is idempotent per batchId: a replayed batch leaves one copy") {
    val out = Files.createTempDirectory("graft_idem").toString
    val ev = Seq(
      PipelineEvent("T", "tick", new Timestamp(1700000000000L), 0, 0L,
        Some(10.0), Some(0.0), None, None, None),
      PipelineEvent("T", "rmse", new Timestamp(1700000001000L), 0, 1L,
        None, None, None, None, Some(0.5))).toDS()
    StreamingPipeline.writeBatch(ev, batchId = 7L, out, console = false)
    StreamingPipeline.writeBatch(ev, batchId = 7L, out, console = false) // replay
    assert(spark.read.parquet(s"$out/t1_ticks").count() == 1)
    assert(spark.read.parquet(s"$out/t4_rmse").count() == 1)
    // a lost-range replay (source cannot re-deliver; empty slice) must
    // NOT erase rows that already reached disk
    StreamingPipeline.writeBatch(spark.emptyDataset[PipelineEvent],
      batchId = 7L, out, console = false)
    assert(spark.read.parquet(s"$out/t1_ticks").count() == 1,
      "empty replay erased persisted tick rows")
    assert(spark.read.parquet(s"$out/t4_rmse").count() == 1)
  }

  test("console progress line matches the reference format") {
    val line = graft.sink.CsvSinks.progressLine(123.456, 0.0132,
      Timestamp.valueOf("2026-01-01 00:00:00"))
    assert(line == "Price: 123.46 | Variation: +1.32% | 2026-01-01 00:00:00.0")
  }
}
