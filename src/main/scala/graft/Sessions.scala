package graft

import org.apache.spark.sql.SparkSession

/** One place to build the engine's local SparkSession so that required
  * session-level config is set exactly once, at construction — never
  * mutated mid-flight by loaders (racy under concurrent query execution).
  *
  * Config notes:
  *  - `spark.sql.shuffle.partitions` = cores: the driver runs local[32] on
  *    one JVM; 200 default partitions would just add scheduling overhead at
  *    these SFs. On a real cluster this is tuned to ~2-3× total cores (or
  *    left to AQE coalescing, which is enabled by default in Spark 4).
  *  - `nanosAsLong`: the driver's `events.parquet` carries INT64
  *    TIMESTAMP(NANOS), which Spark's reader rejects by default;
  *    [[Tables.events]] relies on this being set at construction.
  *  - `fs.file.impl` / `fs.AbstractFileSystem.file.impl` bind `file:` to
  *    [[graft.io.LocalFs]]'s classes, which fork no `chmod`/`readlink` per
  *    checkpoint file. Hadoop's `FileSystem` cache ignores the conf, so a
  *    `file:` filesystem created earlier in the JVM keeps serving: the
  *    session checks the resolved class once and WARNs naming it.
  */
object Sessions {
  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val builder = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config(graft.io.LocalFs.confs)
    // deployment-conf passthrough for the pipe_prep AQE knob
    // (PrepPipeline.prepSession reads `graft.prep.adaptive`): lets the
    // contention-robustness demos flip the config per PROCESS without
    // code edits — exactly how a cluster deployment would set it
    // normalized: the consumer matches the exact string "true", so "1",
    // "TRUE", "True" must not silently select the clone config
    sys.env.get("SPARK_GRAFT_PREP_ADAPTIVE").foreach { v =>
      val norm = if (v == "1") "true" else v.toLowerCase(java.util.Locale.ROOT)
      builder.config("graft.prep.adaptive", norm); ()
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.io.LocalFs.checkBound(spark.sparkContext.hadoopConfiguration)
    spark
  }
}
