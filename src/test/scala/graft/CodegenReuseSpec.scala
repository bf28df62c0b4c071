package graft

import java.sql.Timestamp

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.schema.RawTick
import graft.streaming.StreamingPipeline

/** A repeated plan reuses its generated classes: the codegen cache holds a
  * whole query (`spark.sql.codegen.cache.maxEntries`), session clones
  * share one class loader (`spark.sql.artifact.isolation.enabled=false`),
  * and a generated class's name carries no stage id
  * (`spark.sql.codegen.useIdInClassName=false`), all set by
  * [[Sessions.local]]. Counts are deltas of Spark's process-wide
  * compilation counter. */
class CodegenReuseSpec extends SparkSpec {

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def counted(body: => Unit): Long = {
    val c0 = compiles()
    body
    compiles() - c0
  }

  private def run(s: SparkSession, query: String): Unit =
    SparkEntry.queries(query)(s, sfDir).write.format("noop").mode("overwrite").save()

  test("a second pipe_prep run compiles no class") {
    run(spark, "pipe_prep")
    val again = counted(run(spark, "pipe_prep"))
    assert(again == 0, s"second pipe_prep run compiled $again classes")
  }

  test("a second knn_ann_ivf_pq run, on a fresh caller session, compiles no class") {
    // each run builds its index on a new Sessions.composed clone of the
    // session it is handed
    run(spark, "knn_ann_ivf_pq")
    val again = counted(run(spark.newSession(), "knn_ann_ivf_pq"))
    assert(again == 0, s"second knn_ann_ivf_pq run compiled $again classes")
  }

  test("a session clone reuses the classes its parent compiled") {
    run(spark, "q1_pricing_summary")
    val onClone = counted(run(spark.newSession(), "q1_pricing_summary"))
    assert(onClone == 0, s"the clone compiled $onClone classes")
  }

  test("shuffled passes over the relational sweep compile no class after the first") {
    // the benchmark's sweep-relational queries: adaptive execution can
    // number their codegen stages differently from one run to the next
    val names = Seq("q1_pricing_summary", "q6_revenue_filter", "q3_top_orders",
      "q_exact_stats", "jn4_asof_native", "q_sessionize")
    val rnd = new scala.util.Random(8)
    val passes = (0 until 8).map(_ => counted(rnd.shuffle(names).foreach(run(spark, _))))
    assert(passes.tail.forall(_ == 0), s"classes compiled per pass: ${passes.mkString(", ")}")
  }

  test("a second stream query's first micro-batch compiles no more than its second") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    def batch(b: Int): Seq[RawTick] = for {
      ticker <- Seq("MC.PA", "OR.PA"); i <- 0 until 50
    } yield {
      val n = b * 50 + i
      RawTick(ticker, new Timestamp(1700000000000L + n * 1000L), 100.0 + (n * 37 % 101) / 100.0)
    }
    // compile counts of a fresh stream query's first two micro-batches
    def stream(): Seq[Long] = {
      val ms = MemoryStream[RawTick]
      val q = StreamingPipeline.events(ms.toDS()).writeStream
        .format("memory").queryName(s"codegen_${System.nanoTime()}").outputMode("append").start()
      try (0 until 2).map { b => counted { ms.addData(batch(b)); q.processAllAvailable() } }
      finally q.stop()
    }
    stream()
    val second = stream()
    assert(second(0) <= second(1),
      s"the second query's first batch compiled ${second(0)} classes, its second ${second(1)}")
  }
}
