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
  *    again on each clone ([[composed]] and each stream query's session).
  *    Nothing here adds session artifacts, so this changes nothing else. A
  *    second `pipe_prep` run at sf0.001 compiles 79 classes at Spark's
  *    defaults, 59 with the cap alone, 45 with this alone and 0 with both
  *    (`CodegenReuseSpec`).
  *  - `spark.sql.codegen.useIdInClassName` = false: adaptive execution can
  *    number a plan's whole-stage codegen stages differently from one run
  *    to the next, and the stage id is part of the generated class name
  *    (`GeneratedIteratorForCodegenStage3` vs `…Stage4`, same body), so a
  *    repeated plan missed the codegen cache. Without the id the class name
  *    is fixed and the cache key is the code alone.
  *  - `fs.file.impl` / `fs.AbstractFileSystem.file.impl` bind `file:` to
  *    [[graft.io.LocalFs]]'s classes, which fork no `chmod`/`readlink` per
  *    checkpoint file. Hadoop's `FileSystem` cache ignores the conf, so a
  *    `file:` filesystem created earlier in the JVM keeps serving: the
  *    session checks the resolved class once and WARNs naming it.
  *
  * Session confs are set at construction and never written afterwards on a
  * session a caller handed in. A query that needs its own execution
  * settings runs on a clone from [[composed]], the one place product code
  * makes a clone.
  */
object Sessions {
  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config(graft.io.LocalFs.confs)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.io.LocalFs.checkBound(spark.sparkContext.hadoopConfiguration)
    spark
  }

  /** The execution policy of the composed queries (the prep chain,
    * PageRank, the kNN eval, MMR, and every IVF-family `knn_ann_*` /
    * `knn_range_search` query with its index build): a lazy clone of
    * `spark` with adaptive execution off and a static shuffle width of
    * `min(8, defaultParallelism)`. The clone shares the context, catalog,
    * cache manager, extensions and (see above) generated classes; only its
    * SQL conf is its own, so the caller's session is never written.
    *  - AQE off: these queries run eager inter-stage actions and iterative
    *    rounds, and AQE materializes every shuffle stage of each as its
    *    own sequential blocking job, a re-queue point under host load. At
    *    sf0.1 `pipe_prep_semantic` ran 94 jobs with AQE and 23 without,
    *    PageRank's 10 rounds 58 jobs and one, a kNN eval 165. Rows are
    *    oracle-pinned identical.
    *  - width 8 at most: past their scans these frames are workload-sized
    *    (ids, digests, ranks, nQ·k rows), so a core-count width on a large
    *    host spends each stage on task scheduling.
    *  - width no more than the context's default parallelism (its core
    *    count in local mode): on fewer than 8 cores a width of 8 runs two
    *    task waves per stage. `knn_mmr` at sf0.01 on 4 cores took 3.08 s
    *    at width 8 and 2.36 s at width 4. The rule reads a value the
    *    context already has, so there is no option to set.
    *  - the cost: AQE's small-data conveniences are lost (runtime
    *    broadcast of the id-keeper joins, coalescing of tiny shuffles),
    *    about 1.4–1.6× wall on the prep family at sf0.1, and so is its
    *    skew handling at corpus scale. */
  def composed(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions",
      math.min(8, spark.sparkContext.defaultParallelism).toString)
    s
  }
}
