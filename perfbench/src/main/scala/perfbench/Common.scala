package perfbench

import java.io.{File, PrintWriter}

import org.apache.spark.sql.SparkSession

/** Command line of one benchmark process. `data` holds the generated
  * tables; `out` receives `raw.json` (every sample, for the reporting
  * side to reduce) and, for the sweeps, the result sets the output check
  * compares against the oracle SQL. */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      data: String, out: String, cores: Int, setups: Int)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("data"), need("out"), need("cores").toInt, need("setups").toInt)
  }
}

/** Minimal JSON writer for the raw sample file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case p: Product if p.productArity == 2 && !p.isInstanceOf[collection.Seq[_]] =>
      apply(Seq(p.productElement(0), p.productElement(1)))
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
  def write(path: String, v: Any): Unit = {
    val w = new PrintWriter(new File(path), "UTF-8")
    try w.write(apply(v)) finally w.close()
  }
}

object Common {
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** A traced run starts with two untraced passes (the first still pays
    * some warm-up), then alternates traced and untraced, ending untraced:
    * each traced pass sits between two untraced neighbours it is compared
    * with, so drift across the run cancels out of the tracing overhead. */
  def tracedPass(i: Int): Boolean = i >= 2 && i % 2 == 0

  /** Whether to start another pass: until the minimum (one, or four when
    * traced: U U T U) is reached, then only while two more passes as long
    * as the last still end within `seconds` (one when untraced), so a
    * workload's runs all make the same number of passes and a traced run
    * ends untraced. */
  def morePasses(a: Args, done: Int, lastWall: Double, elapsed: Double): Boolean =
    if (a.trace) done < 4 || done % 2 == 1 || elapsed + 2 * lastWall <= a.seconds
    else done < 1 || elapsed + lastWall <= a.seconds

  /** Run `body` `n` times and time each; the first sample also carries the
    * JVM's own start-up before `main`. */
  def setups(n: Int)(body: => Unit): Seq[Double] = {
    val jvmS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    (0 until n).map { k =>
      val t0 = System.nanoTime(); body; secs(t0) + (if (k == 0) jvmS else 0.0)
    }
  }

  /** One pass: listeners registered around it when `traced`. Returns the
    * body's result and the pass's counters (codegen always, the execution
    * layer's when traced). */
  def pass[T](listeners: Option[Listeners], traced: Boolean)(body: => T): (T, Map[String, Double]) = {
    val ls = listeners.filter(_ => traced)
    ls.foreach(_.on())
    val c0 = ls.map(_.exec.counters())
    val g0 = codegen()
    val r = body
    val g1 = codegen()
    ls.foreach(_.off())
    val exec = c0.fold(Map.empty[String, Double])(x =>
      ls.get.exec.counters().map { case (k, v) => k -> (v - x(k)) })
    (r, exec ++ Map("codegen.compiles" -> (g1._1 - g0._1).toDouble,
      "codegen.compile_s" -> (g1._2 - g0._2)))
  }

  def describe(e: Throwable): String = s"${e.getClass.getSimpleName}: ${e.getMessage}"

  /** A fresh session on the program's own constructor, warmed the way
    * `graft.Bench` warms it: the first job pays executor, block-manager
    * and reader start-up once, so no measured operation carries it. */
  def session(cores: Int): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val spark = graft.Sessions.local(cores.toString)
    Seq("org.apache.spark.sql.execution.window", "org.apache.spark.rdd",
      "org.apache.spark.util.SparkStringUtils", "org.apache.spark.sql.execution.streaming")
      .foreach(org.apache.logging.log4j.core.config.Configurator.setLevel(_,
        org.apache.logging.log4j.Level.ERROR))
    spark.range(1000).selectExpr("id % 7 as k", "id as v")
      .groupBy("k").count().write.format("noop").mode("overwrite").save()
    spark
  }

  /** Drop Dataset caches and every persisted RDD (local checkpoints too),
    * blocking, so one operation's blocks never weigh on the next. */
  def dropPersisted(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Block-manager storage memory in use, in MB. */
  def storageUsedMb(spark: SparkSession): Double =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, remaining) => (max - remaining).toDouble }.sum / 1048576.0

  /** Codegen counters: compilations (all generated classes) and
    * whole-stage codegen time, both cumulative for the process. */
  def codegen(): (Long, Double) =
    (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime / 1e9)

  /** Time each `graft.Tables` loader: the first call of the process, then
    * three repeats. The tables layer's own cost (parquet listing, footer
    * reads, the spread decision), independent of any query that uses it. */
  def tablesLayer(spark: SparkSession, dir: String): Map[String, Seq[Double]] = {
    val loaders: Seq[(SparkSession, String) => org.apache.spark.sql.DataFrame] = Seq(
      graft.Tables.lineitem, graft.Tables.orders, graft.Tables.customer, graft.Tables.part,
      graft.Tables.supplier, graft.Tables.nation, graft.Tables.region, graft.Tables.events,
      graft.Tables.documents, graft.Tables.embeddings)
    def pass(): Double = loaders.map { f => val t0 = System.nanoTime(); f(spark, dir); secs(t0) }.sum
    val cold = pass() / loaders.size
    Map("tables.load_cold_s" -> Seq(cold),
      "tables.load_warm_s" -> (1 to 3).map(_ => pass() / loaders.size))
  }

  def deleteTree(f: File): Unit = {
    val kids = f.listFiles(); if (kids != null) kids.foreach(deleteTree); f.delete(); ()
  }

  /** Files and bytes under a directory, counted exactly. */
  def fileStats(dir: File): (Long, Long) = {
    val kids = dir.listFiles()
    if (kids == null) (if (dir.isFile) (1L, dir.length) else (0L, 0L))
    else kids.map(fileStats).foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
  }
}
