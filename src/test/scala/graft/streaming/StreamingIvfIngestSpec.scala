package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit}

import graft.SparkSpec
import graft.analytics.{IvfIndex, Similarity}

/** The streaming face of the persisted-index ingest path (VERDICT r13
  * #3): micro-batched arrivals must land EXACTLY where the batch-side
  * `IvfIndex.insert` puts them, at-least-once replay must be invisible to
  * serving, and compaction must physically drop the replay residue. */
class StreamingIvfIngestSpec extends SparkSpec {

  private def embL: DataFrame =
    graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))

  private def rows4(df: DataFrame): Set[(Long, Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet

  /** Top-5 of the first 10 corpus vectors, served from the index at `p`. */
  private def serve(p: String): DataFrame =
    IvfIndex.open(spark, p).serve(embL.where(col("vec_id") < 10), corpus = Some(embL))

  test("streamed inserts == fresh full rebuild; a replayed batch changes nothing; compaction dedups") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val h = graft.functions.Hashes.md5Long60(col("vec_id").cast("string"))
    val p = java.nio.file.Files.createTempDirectory("graft_sivf").toString
    IvfIndex.build(spark, embL.where(h < lit(Similarity.InsertHashThreshold)), p, IvfIndex.Spec())
    // the late arrivals, streamed in micro-batches through foreachBatch
    val arrivals = embL.where(h >= lit(Similarity.InsertHashThreshold))
      .select(col("vec_id"), col("e"))
      .as[(Long, Seq[Double])].collect().toSeq
    assert(arrivals.nonEmpty, "the hash split must leave an insert set")
    val ms = MemoryStream[(Long, Seq[Double])]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sivf_ck").toString
    val q = StreamingIvfIngest.start(
      ms.toDS().toDF("vec_id", "e"), p, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      val (b1, b2) = arrivals.splitAt(arrivals.size / 2)
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
    } finally q.stop()
    // law 1: the streamed index == a fresh full-corpus rebuild
    val p2 = java.nio.file.Files.createTempDirectory("graft_sivf_full").toString
    IvfIndex.build(spark, embL, p2, IvfIndex.Spec())
    def assignSet(path: String) = spark.read.parquet(path + "/assign")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(assignSet(p) === assignSet(p2))
    val served = rows4(serve(p))
    assert(served.nonEmpty && served === rows4(serve(p2)))
    // law 2: an at-least-once REPLAY of a batch appends only bit-identical
    // rows — the served results cannot move
    IvfIndex.open(spark, p).insert(arrivals.take(arrivals.size / 2).toDF("vec_id", "e"))
    val nWithDups = spark.read.parquet(p + "/assign").count()
    assert(nWithDups > assignSet(p2).size, "replay must have appended rows")
    assert(rows4(serve(p)) === served,
      "duplicate membership rows must be invisible to serving")
    // law 3: compaction drops the residue and still serves identically
    IvfIndex.open(spark, p).compact()
    assert(spark.read.parquet(p + "/assign").count() === assignSet(p2).size.toLong)
    assert(rows4(serve(p)) === served)
  }
}
