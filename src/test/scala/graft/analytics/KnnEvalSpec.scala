package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Metric laws of the `knn_eval` retrieval-quality table (VERDICT r13
  * #4), driven on constructed frames through [[Similarity.evalRungs]] —
  * the DuckDB oracle gates the cross-engine arithmetic; these pin the
  * METRIC DEFINITIONS so a refactor cannot silently change what the
  * numbers mean. nQ = 2 queries, k = 3 throughout. */
class KnnEvalSpec extends SparkSpec {

  private val nQ = 2
  private val k = 3

  /** ground truth: query q's exact top-3 is {10q+1, 10q+2, 10q+3}. */
  private def exactGt: DataFrame = {
    import spark.implicits._
    (0 until nQ).flatMap(q => (1 to k).map(i => (q.toLong, (10 * q + i).toLong, 1L)))
      .toDF("q_id", "n_id", "__hit")
  }

  /** a rung frame from (q_id, rank, n_id) triples. */
  private def rung(name: String, rows: Seq[(Long, Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("q_id", "rank", "n_id").select(
      lit(name).as("rung"), col("q_id"), col("rank"), col("n_id"))
  }

  private def metrics(ev: DataFrame): Map[String, (Long, Long, Long)] =
    Similarity.evalRungs(exactGt, ev, nQ, k).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

  test("a rung identical to the ground truth scores perfect 1000/1000000/1000") {
    val perfect = rung("p",
      (0 until nQ).flatMap(q => (1 to k).map(i => (q.toLong, i.toLong, (10 * q + i).toLong))))
    assert(metrics(perfect)("p") === ((1000L, 1000000L, 1000L)))
  }

  test("a rung disjoint from the ground truth scores 0/0/0") {
    val miss = rung("m",
      (0 until nQ).flatMap(q => (1 to k).map(i => (q.toLong, i.toLong, (900 + 10 * q + i).toLong))))
    assert(metrics(miss)("m") === ((0L, 0L, 0L)))
  }

  test("a single rank-1 hit per query scores recall k-th, MRR full, NDCG first-gain share") {
    // each query's rank-1 pick is relevant, ranks 2..k are misses
    val one = rung("o", (0 until nQ).flatMap { q =>
      Seq((q.toLong, 1L, (10 * q + 1).toLong)) ++
        (2 to k).map(i => (q.toLong, i.toLong, (900 + 10 * q + i).toLong))
    })
    val gains = Similarity.ndcgGains(k)
    val expectNdcg = gains.head * 1000 / gains.sum // same truncating div per query
    assert(metrics(one)("o") === ((1000L / k, 1000000L, expectNdcg)))
  }

  test("MRR truncates per query BEFORE the mean; a rank-3-only hit uses 1e6 div 3") {
    val late = rung("l", (0 until nQ).flatMap { q =>
      (1 to 2).map(i => (q.toLong, i.toLong, (900 + 10 * q + i).toLong)) :+
        ((q.toLong, 3L, (10 * q + 1).toLong))
    })
    val (_, mrr, _) = metrics(late)("l")
    assert(mrr === 1000000L / 3) // 333333, the documented truncation
  }

  test("a query missing from a rung contributes zero through the fixed nQ denominator") {
    // only query 0 returns rows (perfect); query 1 is absent entirely
    val half = rung("h", (1 to k).map(i => (0L, i.toLong, i.toLong)))
    assert(metrics(half)("h") === ((1000L / 2, 1000000L / 2, 1000L / 2)))
  }

  test("the registered query's nine rungs stay within metric ranges on real data") {
    val rows = Similarity.knnEval(spark, sfDir).collect()
    assert(rows.map(_.getString(0)).toSeq ===
      Seq("ivf", "ivf_del", "ivf_ins", "opq", "pca", "pq", "pq_ins", "proj", "sq8"))
    rows.foreach { r =>
      assert(r.getLong(1) >= 0 && r.getLong(1) <= 1000, s"recall_pm out of range: $r")
      assert(r.getLong(2) >= 0 && r.getLong(2) <= 1000000, s"mrr_ppm out of range: $r")
      assert(r.getLong(3) >= 0 && r.getLong(3) <= 1000, s"ndcg_pm out of range: $r")
    }
  }

  test("lifecycle quality-invariance (VERDICT r14 #4): ins scores == fresh ivf; del == fresh index on survivors") {
    val t = Similarity.knnEval(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // base build + insert by the stored rule + compact must not move a
    // single quality metric off the fresh index's
    assert(t("ivf_ins") === t("ivf"),
      s"ingest lifecycle regressed retrieval quality: ${t("ivf_ins")} vs ${t("ivf")}")
    // the delete lifecycle, judged against the survivors' exact ground
    // truth, must equal a FRESH index built on the surviving corpus
    import org.apache.spark.sql.functions.{col, lit}
    val survPred = graft.functions.Hashes.md5Long60(col("vec_id").cast("string")) <
      lit(Similarity.InsertHashThreshold)
    val exactSurv = Similarity.knnExactWhere(spark, sfDir, 10, 5, survPred)
      .select(col("q_id"), col("n_id"), lit(1L).as("__hit"))
    val embL = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val p = java.nio.file.Files.createTempDirectory("graft_evalsurv").toString
    IvfIndex.build(spark, embL.where(survPred), p, IvfIndex.Spec())
    val freshDel = IvfIndex.open(spark, p)
      .serve(embL.where(col("vec_id") < 10), corpus = Some(embL))
      .select(lit("ivf_del").as("rung"), col("q_id"), col("rank"), col("n_id"))
    val want = Similarity.evalRungs(exactSurv, freshDel, 10, 5).collect()
      .map(r => ((r.getLong(1), r.getLong(2), r.getLong(3)))).head
    assert(t("ivf_del") === want,
      s"delete lifecycle quality != fresh survivor index: ${t("ivf_del")} vs $want")
  }
}
