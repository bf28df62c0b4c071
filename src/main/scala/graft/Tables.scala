package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Central loader for the driver-provided parquet tables
  * (`/root/repo/TESTDATA.md`). All queries load through here so that
  * source-level concerns (the nanosecond-timestamp workaround for
  * `events`, column pruning, session config) live in one place.
  */
object Tables {
  val TpchTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = scan(spark, dir, name)._1

  /** One memo entry per table path, JVM-wide: Spark's own inferred schema
    * and the row-group count from the footers, valid while its stamp holds.
    * Spark's parquet inference runs one job per load, even for one file; a
    * load given the memoized schema runs none.
    *  - The stamp is each leaf file under the path as (path, length, mtime),
    *    so a file or output directory overwritten in place is inferred
    *    again, plus the session's inference-shaping confs
    *    (`spark.sql.parquet.*`, `spark.sql.legacy.parquet.*`,
    *    `spark.sql.caseSensitive`). Execution confs are not in it, so a
    *    [[Sessions.composed]] clone hits its parent's entry.
    *  - A new stamp replaces the path's entry, so the memo holds one entry
    *    per distinct path however often the path is overwritten. */
  private final case class Resolved(stamp: Stamp, schema: StructType, rowGroups: Int)
  private type Stamp = (Seq[(String, Long, Long)], Map[String, String])
  private val resolved = scala.collection.concurrent.TrieMap[String, Resolved]()

  /** Paths with a memo entry, for specs. */
  private[graft] def resolvedPaths: Iterable[String] = resolved.keys

  private def stamp(spark: SparkSession, path: Path): Stamp = {
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leaves(st: FileStatus): Seq[(String, Long, Long)] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(leaves)
      else Seq((st.getPath.toString, st.getLen, st.getModificationTime))
    (leaves(fs.getFileStatus(path)).sorted, spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
        k == "spark.sql.caseSensitive" })
  }

  /** The table's DataFrame and its row-group count, through the memo. */
  private def scan(spark: SparkSession, dir: String, name: String): (DataFrame, Int) = {
    val path = s"$dir/$name.parquet"
    val st = stamp(spark, new Path(path))
    val r = resolved.get(path).filter(_.stamp == st).getOrElse {
      val df = spark.read.parquet(path)
      val conf = spark.sparkContext.hadoopConfiguration
      val groups = df.inputFiles.map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(f), conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try reader.getFooter.getBlocks.size finally reader.close()
      }.sum
      val fresh = Resolved(st, df.schema, groups)
      resolved.put(path, fresh)
      fresh
    }
    (spark.read.schema(r.schema).parquet(path), r.rowGroups)
  }

  /** The driver's parquet files each ship as ONE row group, so the scan
    * delivers a single POPULATED partition no matter how it is split —
    * every downstream narrow stage (regex, shingling, vector math,
    * map-side join probes, partial aggregates) would run on one core of
    * the cluster. Redistribute up to default parallelism first; the
    * shuffle moves only the raw table bytes once. Guarded on the ROW
    * GROUP count from the parquet footers (not the scan's byte-range
    * split count, which over-reports: a split is populated only if a row
    * group starts inside it), so a real corpus with many row groups/files
    * already scans wide and this is a no-op. */
  private def spread(spark: SparkSession, dir: String, name: String): DataFrame = {
    val (df, rowGroups) = scan(spark, dir, name)
    val target = spark.sparkContext.defaultParallelism
    if (rowGroups * 2 < target) df.repartition(target) else df
  }

  def region(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = spread(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = spread(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = spread(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = spread(spark, dir, "embeddings")

  /** `events.parquet` has shipped with two timestamp layouts across
    * driver generations: INT64 TIMESTAMP(NANOS) (which Spark's parquet
    * reader rejects unless `spark.sql.legacy.parquet.nanosAsLong=true` —
    * [[Sessions.local]] sets it at construction, so the legacy layout
    * reads as a LongType nanosecond count) and plain TIMESTAMP(MICROS)
    * (read as TimestampNTZType under the default NTZ inference). Both
    * normalize to the same three columns here: raw nanos (`ts_ns`),
    * microseconds (`ts_us`, the parity unit — matches DuckDB's
    * `epoch_us(ts::TIMESTAMP)`, which truncates ns and is identity on
    * µs), and a proper TimestampType `ts` (the session runs UTC, so the
    * NTZ→TZ cast is wall-clock-exact). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = spread(spark, dir, "events")
    // one projection per layout (each chained withColumn analyses a new
    // Dataset): `ts` keeps its position, the derived columns follow
    def normalized(ts: Column, added: Column*): DataFrame =
      raw.select(raw.columns.toSeq.map(c => if (c == "ts") ts else raw(c)) ++ added: _*)
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        val tsUs = expr("ts div 1000") // integer div: ns exceeds double's 2^53
        normalized(col("ts").as("ts_ns"), tsUs.as("ts_us"), timestamp_micros(tsUs).as("ts"))
      case _ =>
        // the NTZ→TZ cast interprets the wall clock in the SESSION time
        // zone: only UTC reproduces the oracle's epoch_us. Fail fast with
        // an actionable message rather than silently shifting timestamps
        // (the nanos branch above is timezone-invariant; this one is not).
        require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
          "Tables.events needs spark.sql.session.timeZone=UTC to normalize " +
            "TIMESTAMP(MICROS) events deterministically - build the session " +
            "via graft.Sessions.local or set the conf before loading")
        val ts = col("ts").cast(org.apache.spark.sql.types.TimestampType)
        normalized(ts.as("ts"), unix_micros(ts).as("ts_us"), (unix_micros(ts) * lit(1000L)).as("ts_ns"))
    }
  }
}
