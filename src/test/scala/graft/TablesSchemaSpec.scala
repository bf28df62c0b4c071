package graft

import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** `Tables` resolves each parquet path once per JVM and stamp: a warm load
  * starts no Spark job, on the session that first loaded the table and on
  * a clone; a file or directory overwritten in place, or a session whose
  * parquet confs differ, is inferred again; and a path holds one memo
  * entry however often it is overwritten. */
class TablesSchemaSpec extends SparkSpec {
  import spark.implicits._

  private val loaders: Seq[(SparkSession, String) => DataFrame] = Seq(
    Tables.region, Tables.nation, Tables.customer, Tables.supplier, Tables.part, Tables.orders,
    Tables.lineitem, Tables.events, Tables.documents, Tables.embeddings)

  /** Jobs started by `body` on this thread, counted by a listener; a
    * sentinel job after it marks when the listener bus has caught up. */
  private def jobsOf(body: => Unit): Int = {
    val group = "tables-schema-spec"
    val seen = new AtomicInteger
    val sentinelSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => seen.incrementAndGet()
          case "sentinel" => sentinelSeen.countDown()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "")
      try body finally sc.clearJobGroup()
      sc.setJobGroup("sentinel", "")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(sentinelSeen.await(30, java.util.concurrent.TimeUnit.SECONDS), "listener bus stalled")
      seen.get
    } finally sc.removeSparkListener(listener)
  }

  private def tmpDir(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def spreads(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collect { case r: Repartition => r }.nonEmpty

  test("a warm load of every table starts no job, on the same session and on a clone") {
    loaders.foreach(f => f(spark, sfDir))
    val clone = spark.newSession()
    val jobs = jobsOf(loaders.foreach { f => f(spark, sfDir); f(clone, sfDir) })
    assert(jobs == 0, s"$jobs jobs for 20 warm loads")
  }

  test("a file overwritten in place is inferred again: new schema and row-group count") {
    val dir = tmpDir("graft_schema_file")
    val table = s"$dir/documents.parquet"
    /** Writes `df` as ONE parquet file at `table`, replacing what is there. */
    def writeFile(df: DataFrame, blockSize: Int): Unit = {
      val out = s"$dir/out"
      df.coalesce(1).write.mode("overwrite").option("parquet.block.size", blockSize).parquet(out)
      val part = new java.io.File(out).listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, new java.io.File(table).toPath, StandardCopyOption.REPLACE_EXISTING)
    }
    writeFile((1 to 100).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text"), 128 << 20)
    val v1 = Tables.documents(spark, dir)
    assert(v1.columns.toSeq == Seq("doc_id", "text") && spreads(v1), "one row group spreads")
    writeFile((1 to 4000).map(i => (i.toLong, s"doc $i " * 20, i * 2L)).toDF("doc_id", "text", "extra"),
      16 << 10)
    val v2 = Tables.documents(spark, dir)
    assert(v2.columns.toSeq == Seq("doc_id", "text", "extra"), "stale schema after overwrite")
    assert(!spreads(v2), "stale row-group count after overwrite")
    assert(v2.where($"extra" === 8000L).count() == 1)
  }

  test("a directory overwritten in place is inferred again: new schema and row-group count") {
    val dir = tmpDir("graft_schema_dir")
    val table = s"$dir/documents.parquet"
    (1 to 100).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(table)
    val v1 = Tables.documents(spark, dir)
    assert(v1.columns.toSeq == Seq("doc_id", "text") && spreads(v1), "one row group spreads")
    (1 to 1000).map(i => (i.toLong, s"doc $i", i * 2L)).toDF("doc_id", "text", "extra")
      .repartition(2 * spark.sparkContext.defaultParallelism).write.mode("overwrite").parquet(table)
    val v2 = Tables.documents(spark, dir)
    assert(v2.columns.toSeq == Seq("doc_id", "text", "extra"), "stale schema after overwrite")
    assert(!spreads(v2), "stale row-group count after overwrite")
  }

  test("a path overwritten five times holds one memo entry") {
    val dir = tmpDir("graft_schema_bound")
    val table = s"$dir/documents.parquet"
    (1 to 5).foreach { n =>
      (1 to 10 * n).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(table)
      assert(Tables.documents(spark, dir).count() == 10 * n)
      assert(Tables.resolvedPaths.count(_.contains(dir)) == 1)
    }
  }

  test("a session with other parquet inference confs gets its own schema") {
    val ntzOff = spark.newSession()
    ntzOff.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    def tsType(s: SparkSession) = Tables.load(s, sfDir, "events").schema("ts").dataType
    assert(tsType(spark) == TimestampNTZType)
    assert(tsType(ntzOff) == TimestampType)
    assert(tsType(spark) == TimestampNTZType)
  }

  /** `events` with a TIMESTAMP(`unit`) `ts` column, as one parquet file. */
  private def writeEvents(dir: String, unit: LogicalTypeAnnotation.TimeUnit, ts: Seq[Long]): Unit = {
    val schema = Types.buildMessage()
      .required(PrimitiveTypeName.INT64).named("event_id")
      .required(PrimitiveTypeName.INT64).as(LogicalTypeAnnotation.timestampType(false, unit)).named("ts")
      .required(PrimitiveTypeName.DOUBLE).named("value")
      .named("events")
    val out = HadoopOutputFile.fromPath(new Path(s"$dir/events.parquet"), spark.sparkContext.hadoopConfiguration)
    val w = ExampleParquetWriter.builder(out).withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try ts.zipWithIndex.foreach { case (t, i) =>
      w.write(groups.newGroup().append("event_id", i.toLong).append("ts", t).append("value", i * 0.5))
    } finally w.close()
  }

  test("events in TIMESTAMP(NANOS) and TIMESTAMP(MICROS) normalize alike, cold and warm") {
    // 2024-01-01T00:00:00Z plus sub-microsecond parts, so ns -> µs truncates
    val nanos = (0 until 50).map(i => 1704067200000000000L + i * 1234567891L + i % 1000)
    val (nsDir, usDir) = (tmpDir("graft_events_ns"), tmpDir("graft_events_us"))
    writeEvents(nsDir, LogicalTypeAnnotation.TimeUnit.NANOS, nanos)
    writeEvents(usDir, LogicalTypeAnnotation.TimeUnit.MICROS, nanos.map(_ / 1000))
    def normalized(dir: String) = Tables.events(spark, dir)
      .selectExpr("event_id", "ts", "ts_us", "ts_ns div 1000 * 1000 as ts_ns").orderBy("event_id").collect().toSeq
    (1 to 2).foreach { _ => // cold, then warm
      assert(Tables.load(spark, nsDir, "events").schema("ts").dataType == LongType)
      assert(Tables.events(spark, nsDir).select("ts_ns").as[Long].collect().toSeq.sorted == nanos)
      assert(normalized(nsDir) == normalized(usDir))
    }
    assert(jobsOf { Tables.events(spark, nsDir); Tables.events(spark, usDir) } == 0)
  }
}
