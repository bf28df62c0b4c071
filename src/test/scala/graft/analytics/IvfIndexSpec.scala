package graft.analytics

import graft.SparkSpec

/** The persisted-index lifecycle ([[IvfIndex.build]] /
  * [[IvfIndex.centroids]] / [[IvfIndex.serve]]): a real
  * deployment builds the index once, ships the artifacts, and serves
  * from files — so the laws are (1) the artifact round-trips the model
  * parameters bit-exactly, (2) serving from the artifact reproduces the
  * inline-trained results row-for-row, and (3) the serving plan reads
  * the persisted inverted-list membership instead of re-running the
  * assignment scan. */
class IvfIndexSpec extends SparkSpec {

  /** The refined rung's index: 3 Lloyd rounds, as [[Similarity.annIvfRefined]]. */
  private def build(p: String): Unit =
    IvfIndex.build(spark, Similarity.embeddingsD(spark, sfDir), p, IvfIndex.Spec(rounds = 3))

  private def serve(p: String) = {
    val emb = Similarity.embeddingsD(spark, sfDir)
    IvfIndex.open(spark, p).serve(emb.where(emb("vec_id") < 10), corpus = Some(emb))
  }

  private lazy val idxPath: String = {
    val p = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString
    build(p)
    p
  }

  test("centroid artifact round-trips bit-exactly") {
    val loaded = IvfIndex.open(spark, idxPath).centroids
    assert(loaded.length === 16)
    assert(loaded.map(_._1).toSeq === loaded.map(_._1).toSeq.sorted)
    // a second build at the same parameters produces the same artifact
    val p2 = java.nio.file.Files.createTempDirectory("graft_ivf_idx2").toString
    build(p2)
    val loaded2 = IvfIndex.open(spark, p2).centroids
    assert(loaded.map(_._1).toSeq === loaded2.map(_._1).toSeq)
    loaded.zip(loaded2).foreach { case ((_, a), (_, b)) =>
      assert(java.util.Arrays.equals(a, b), "centroid doubles must round-trip bit-exactly")
    }
  }

  test("serving from the artifact == inline-trained annIvfRefined, row for row") {
    val served = serve(idxPath)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val inline = Similarity.annIvfRefined(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(served.nonEmpty)
    assert(served === inline,
      "artifact-served results must be bit-identical to inline training")
  }

  test("the serving plan reads the persisted assignment, not an assignment recompute") {
    val plan = serve(idxPath)
      .queryExecution.executedPlan.toString
    assert(plan.contains("assign"), "serve must scan the inverted-list artifact")
    // the inline path assigns the corpus with an array_max-over-centroid-
    // literals projection; the served plan must carry NO assignment
    // expression at all (centroids appear only in the tiny probe frame,
    // which ranks by a window, not array_max)
    val inlinePlan = Similarity.annIvfRefined(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(inlinePlan.contains("array_max"), "marker check: inline assigns in-plan")
    assert(!plan.contains("array_max"),
      "served plan must be free of the corpus assignment expression")
  }
}
