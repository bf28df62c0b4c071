package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The two query sweeps. A pass runs every query of the workload once, in
  * an order drawn from the seed, each result to the noop sink and caches
  * dropped after each query (outside its time), as `graft.Bench` measures
  * them. Passes repeat until the run's time is up. */
object Sweeps {
  /** Scan/join/agg/window queries, one or two per plan family. Selection
    * rule: the query function runs no eager action, so the cost is fixed
    * cost plus one plan's execution. Its only jobs are the parquet schema
    * inference of each `Tables` load; the traced run reports both kinds
    * (`tables.schema_jobs`, `analytics.eager_jobs`) to check the rule. */
  val Relational: Seq[String] = Seq(
    "q1_pricing_summary", "q6_revenue_filter", "q3_top_orders", "q_exact_stats",
    "jn4_asof_native", "q_sessionize")

  /** Compositions whose query function runs eager actions before it
    * returns: a prep-session clone with checkpoints, and an inline IVF-PQ
    * index build. */
  val Composed: Seq[String] = Seq("pipe_prep", "knn_ann_ivf_pq")

  def run(a: Args): Map[String, Any] = {
    val names = if (a.workload == "sweep-composed") Composed else Relational
    val fns = names.map(n => n -> graft.SparkEntry.queries(n)).toMap
    val dir = a.data

    // Set-up, repeated: a fresh session and its first table read.
    var spark: SparkSession = null
    val setups = Common.setups(a.setups) {
      spark = Common.session(a.cores)
      graft.Tables.region(spark, dir).write.format("noop").mode("overwrite").save()
    }
    val layers = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    if (a.trace) layers ++= Common.tablesLayer(spark, dir)

    val c0 = System.nanoTime()
    // Output check, untimed, before the timed passes (it also pays each
    // query's first-run class loading and JIT): every result set is written
    // once for the reporting side to compare with its oracle SQL.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val resDir = new java.io.File(a.out, "results")
    names.foreach { n =>
      try fns(n)(spark, dir).write.mode("overwrite").parquet(new java.io.File(resDir, n).getPath)
      catch { case e: Throwable => errors(s"check:$n") = Common.describe(e) }
      Common.dropPersisted(spark)
    }
    Json.write(new java.io.File(a.out, "oracle_sql.json").getPath,
      names.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap)
    val checkS = Common.secs(c0)

    val listeners = if (a.trace) Some(new Listeners(spark)) else None
    val tracer = new Tracer
    val rnd = new scala.util.Random(a.seed)
    val passes = ArrayBuffer[Map[String, Any]]()
    val readyMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    def lastWall = passes.lastOption.fold(0.0)(_("wall_s").asInstanceOf[Double])
    while (Common.morePasses(a, passes.size, lastWall, Common.secs(t0))) {
      val traced = a.trace && Common.tracedPass(passes.size)
      val order = rnd.shuffle(names)
      val ((ops, wall), counters) = Common.pass(listeners, traced) {
        val p0 = System.nanoTime()
        val ops = order.map { n =>
          runQuery(spark, dir, n, fns(n), listeners.filter(_ => traced).map((tracer, _)), errors)
        }
        (ops, Common.secs(p0))
      }
      passes += Map("traced" -> traced, "wall_s" -> wall, "ops" -> ops, "counters" -> counters)
    }
    val timedS = Common.secs(t0)

    if (a.trace) layers ++= Streams.modelLayer(a.seed, 20000)
    spark.stop()
    Map("setup_s" -> setups, "check_s" -> checkS, "ready_ms" -> readyMs, "timed_s" -> timedS,
      "passes" -> passes,
      "errors" -> errors, "layers" -> layers, "spans" -> tracer.spans.map(_.toMap))
  }

  private def runQuery(spark: SparkSession, dir: String, name: String,
                       fn: (SparkSession, String) => DataFrame,
                       trace: Option[(Tracer, Listeners)],
                       errors: collection.mutable.Map[String, String]): Map[String, Any] = {
    val t0 = System.nanoTime()
    val b0 = Clock.ms()
    var b1 = b0
    var a0 = b0
    var df: DataFrame = null
    val ok = try {
      df = fn(spark, dir)
      b1 = Clock.ms(); a0 = b1
      df.write.format("noop").mode("overwrite").save()
      true
    } catch { case e: Throwable => errors(name) = Common.describe(e); false }
    val t = Common.secs(t0)
    val a1 = Clock.ms()
    val mem = Common.storageUsedMb(spark)
    Common.dropPersisted(spark)
    val base = Map[String, Any]("name" -> name, "t_s" -> t, "build_s" -> (b1 - b0) / 1e3,
      "ok" -> ok, "cached_mb" -> mem)
    trace.fold(base) { case (tracer, ls) =>
      ls.exec.settle()
      val jobs = ls.exec.drainJobs()
      val r = tracer.root(name, b0, a1)
      val build = tracer.add("analytics.build", r, b0, b1)
      val action = tracer.add("exec.action", r, a0, a1)
      def parentOf(start: Double) = if (start < b1) build else action
      jobs.foreach { case (s, e, _) => tracer.add("exec.job", parentOf(s), s, e) }
      val phaseEvents = PhaseEvents.drainAfter(a0)
      phaseEvents.foreach(_.foreach { case (ph, (s, e)) =>
        tracer.add(s"catalyst.$ph", parentOf(s), s, e) })
      // the final action (the noop write), plus the analysis of the
      // returned DataFrame, which ran inside the query function
      val last = phaseEvents.lastOption.getOrElse(Map.empty)
      def phaseS(ph: String) = last.get(ph).map { case (s, e) => (e - s) / 1e3 }.getOrElse(0.0)
      val dfAnalysis = Option(df).flatMap(_.queryExecution.tracker.phases.get("analysis"))
        .map(_.durationMs / 1e3).getOrElse(0.0)
      val buildJobs = jobs.filter(_._1 < b1)
      base ++ Map(
        "build_jobs" -> buildJobs.size,
        "schema_jobs" -> buildJobs.count(j => Option(j._3).exists(_.contains("Tables.scala"))),
        "catalyst.analysis_s" -> (dfAnalysis + phaseS("analysis")),
        "catalyst.optimization_s" -> phaseS("optimization"),
        "catalyst.planning_s" -> phaseS("planning"))
    }
  }
}
