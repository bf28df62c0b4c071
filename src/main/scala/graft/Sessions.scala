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
  *  - `nanosAsLong`: the sf0.001/0.01/0.1 `events.parquet` files carry
  *    INT64 TIMESTAMP(MICROS), which Spark reads as is. The older layout,
  *    INT64 TIMESTAMP(NANOS), is rejected by Spark's reader by default;
  *    with this set it reads as a long, and [[Tables.events]] normalizes
  *    both layouts to the same columns.
  *  - `spark.sql.codegen.cache.maxEntries` = 4096: Spark's generated-class
  *    cache is an LRU of 100, and one `pipe_prep` run alone compiles about
  *    100 classes, so every repeated pass recompiled. Two passes of all 205
  *    queries at sf0.01 on one session compile 6012 then 5637 classes at
  *    Spark's defaults, 2750 then 74 with both confs here; metaspace ends
  *    at 194 and 212 MB, so 4096 holds the suite and stays bounded.
  *    `CodeGenerator` sizes its cache at its first use in the JVM: a
  *    session built before `Sessions.local` (or any codegen run before
  *    it) leaves the cap at 100.
  *  - `spark.sql.artifact.isolation.enabled` = false: the codegen cache key
  *    includes the class loader, and isolation gives every `newSession()`
  *    clone its own `ExecutorClassLoader`, so identical code compiled
  *    again on each clone (`PrepPipeline.prepSession`, GraphRank's and
  *    `Similarity`'s clones, and each stream query's session). Nothing
  *    here adds session artifacts, so this changes nothing else. A second
  *    `pipe_prep` run at sf0.001 compiles 79 classes at Spark's defaults,
  *    59 with the cap alone, 45 with this alone and 0 with both
  *    (`CodegenReuseSpec`).
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
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.artifact.isolation.enabled", "false")
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
