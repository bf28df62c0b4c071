package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.analytics.IvfIndex.{Codec, Spec, Transform}

/** The persisted-artifact lifecycle for the REMAINING model-parameter
  * families (VERDICT r12 #4/#5 — [[IvfIndexSpec]] covers the flat/refined
  * IVF rung): PQ codebooks+codes, SQ8 codes, the deep-BPE merge table,
  * and the serving COMPOSITIONS (hybrid RRF, MMR, negative mining) that
  * now read the session's persisted rounds-0 IVF index. The laws are the
  * deployment laws:
  *   (1) artifacts round-trip the model parameters bit-exactly and a
  *       rebuild reproduces them (the build is deterministic in its key);
  *   (2) serving from the artifact reproduces the inline-trained results
  *       row-for-row;
  *   (3) the serving plan is provably FREE of the training expressions —
  *       no encode shuffle (`posexplode`), no corpus assignment
  *       (`array_max`) — and reads the persisted membership instead. */
class IndexArtifactsSpec extends SparkSpec {

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_art_$tag").toString

  private def rows4(df: DataFrame): Set[(Long, Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet

  private def emb: DataFrame = Similarity.embeddingsD(spark, sfDir)

  private def build(p: String, spec: Spec): Unit = IvfIndex.build(spark, emb, p, spec)

  private def open(p: String): IvfIndex = IvfIndex.open(spark, p)

  /** Top-5 of the first 10 corpus vectors, served from the index at `p`. */
  private def serve(p: String): DataFrame = {
    val e = emb
    open(p).serve(e.where(col("vec_id") < 10), corpus = Some(e))
  }

  // -- PQ --

  private lazy val pqPath: String = {
    val p = tmp("pq"); build(p, Spec(codec = Codec.Pq)); p
  }

  test("PQ codebook artifact round-trips bit-exactly and rebuilds identically") {
    val cb = open(pqPath).codebooks.get
    assert(cb.length === 16 && cb.forall(_.length === 16))
    val p2 = tmp("pq2"); build(p2, Spec(codec = Codec.Pq))
    val cb2 = open(p2).codebooks.get
    cb.zip(cb2).foreach { case (ma, mb) =>
      ma.zip(mb).foreach { case (a, b) =>
        assert(java.util.Arrays.equals(a, b), "codewords must round-trip bit-exactly")
      }
    }
  }

  test("PQ serving from the artifact == inline annIvfPq, row for row") {
    val served = rows4(serve(pqPath))
    val inline = rows4(Similarity.annIvfPq(spark, sfDir))
    assert(served.nonEmpty && served === inline)
  }

  test("PQ serving plan carries no training or assignment expression") {
    val plan = serve(pqPath)
      .queryExecution.executedPlan.toString
    assert(plan.contains("codes") && plan.contains("assign"),
      "serve must scan the persisted codes + membership")
    assert(!plan.contains("posexplode"),
      "served plan must be free of the encode shuffle")
    assert(!plan.contains("array_max"),
      "served plan must be free of the corpus assignment expression")
    // marker check: the inline plan DOES encode + assign in-plan
    val inlinePlan = Similarity.annIvfPq(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(inlinePlan.contains("posexplode") || inlinePlan.contains("InMemory"),
      "marker: inline encodes in-plan (or reads its own eager cache)")
  }

  // -- OPQ --

  private lazy val opqPath: String = {
    val p = tmp("opq"); build(p, Spec(Transform.Perm, codec = Codec.Pq)); p
  }

  test("OPQ rotation artifact round-trips as a bijection and rebuilds identically") {
    val perm = open(opqPath).perm.get
    assert(perm.length === 64 && perm.toSet === (0 until 64).toSet,
      "the stored rotation must be a permutation of the 64 dims")
    val p2 = tmp("opq2"); build(p2, Spec(Transform.Perm, codec = Codec.Pq))
    assert(java.util.Arrays.equals(perm, open(p2).perm.get),
      "the fit is deterministic in its inputs")
  }

  test("OPQ serving from the artifact == inline annIvfOpq, row for row") {
    val served = rows4(serve(opqPath))
    val inline = rows4(Similarity.annIvfOpq(spark, sfDir))
    assert(served.nonEmpty && served === inline)
    // the gate law on THIS corpus: subspace variances are balanced
    // within the 15% engagement bar, so the rotation is the identity
    // and the rung is bit-identical to plain PQ (the knn_eval rows are
    // equal by construction, not by luck)
    val perm = open(opqPath).perm.get
    if (perm.zipWithIndex.forall { case (d, i) => d == i })
      assert(served === rows4(Similarity.annIvfPq(spark, sfDir)),
        "identity rotation must reproduce the PQ rung exactly")
  }

  // -- SQ8 --

  private lazy val sq8Path: String = {
    val p = tmp("sq8"); build(p, Spec(codec = Codec.Sq8)); p
  }

  test("SQ8 serving from the artifact == inline annIvfSq8, row for row") {
    val served = rows4(serve(sq8Path))
    val inline = rows4(Similarity.annIvfSq8(spark, sfDir))
    assert(served.nonEmpty && served === inline)
  }

  test("SQ8 serving plan reads persisted codes, no quantize pass or assignment") {
    val plan = serve(sq8Path)
      .queryExecution.executedPlan.toString
    assert(plan.contains("codes") && plan.contains("assign"))
    assert(!plan.contains("array_max"),
      "served plan must be free of the corpus assignment expression")
    assert(!plan.contains("array_min"),
      "served plan must be free of the quantize codebook pass (array_min/max over e)")
    val inlinePlan = Similarity.annIvfSq8(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(inlinePlan.contains("array_max"), "marker: inline assigns in-plan")
  }

  // -- balanced IVF (the penalty map IS part of the artifact) --

  /** [[Similarity.annIvfBalanced]]'s defaults: 3 rounds at λ = 5000. */
  private val Balanced = Spec(rounds = 3, balance = Some(5000L))

  test("balanced index: penalty map round-trips; served == inline; plan assignment-free") {
    val p = tmp("bal")
    build(p, Balanced)
    val pen = open(p).penalties.get
    assert(pen.size === 16 && pen.values.forall(_ >= 0L))
    // a rebuild reproduces centroids AND penalties bit-exactly
    val p2 = tmp("bal2")
    build(p2, Balanced)
    assert(open(p2).penalties.get === pen)
    val c1 = open(p).centroids
    val c2 = open(p2).centroids
    c1.zip(c2).foreach { case ((i1, a), (i2, b)) =>
      assert(i1 === i2 && java.util.Arrays.equals(a, b))
    }
    val served = rows4(serve(p))
    val inline = rows4(Similarity.annIvfBalanced(spark, sfDir))
    assert(served.nonEmpty && served === inline)
    val plan = serve(p)
      .queryExecution.executedPlan.toString
    assert(plan.contains("assign") && !plan.contains("array_max"))
  }

  // -- incremental insert + compaction (VERDICT r13 #3) --

  test("ivfInsert: base build + insert by the stored rule == fresh full rebuild; compaction changes nothing") {
    import org.apache.spark.sql.functions.{col, lit}
    val embL = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val h = graft.functions.Hashes.md5Long60(col("vec_id").cast("string"))
    val p = tmp("ins")
    IvfIndex.build(spark, embL.where(h < lit(Similarity.InsertHashThreshold)), p, Spec())
    val arrivals = embL.where(h >= lit(Similarity.InsertHashThreshold))
    open(p).insert(arrivals)
    // the union membership equals a fresh full-corpus build's (the seed
    // set is contained in the base split by construction, so the stored
    // centroids are the full build's centroids)
    val p2 = tmp("insfull")
    IvfIndex.build(spark, embL, p2, Spec())
    def assignRows(path: String) = spark.read.parquet(path + "/assign")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val a1 = assignRows(p)
    assert(a1.nonEmpty && a1 === assignRows(p2),
      "base+insert membership must equal the fresh rebuild's")
    // serving equality, and compaction is a pure file rewrite
    val before = rows4(serve(p))
    open(p).compact()
    assert(assignRows(p) === a1, "compaction must not change a membership row")
    val after = rows4(serve(p))
    val fresh = rows4(serve(p2))
    assert(before.nonEmpty && before === after && before === fresh)
    // an at-least-once replay of the same batch appends bit-identical
    // rows that serving cannot see; compaction drops them again
    open(p).insert(arrivals)
    assert(spark.read.parquet(p + "/assign").count() > a1.size, "the replay must append rows")
    assert(rows4(serve(p)) === fresh, "replayed rows must be invisible to serving")
    open(p).compact()
    assert(spark.read.parquet(p + "/assign").count() === a1.size.toLong)
    assert(rows4(serve(p)) === fresh)
  }

  test("PQ insert: batched inserts == one insert; a replayed batch is invisible; compaction restores the count") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val embL = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val h = graft.functions.Hashes.md5Long60(col("vec_id").cast("string"))
    val base = embL.where(h < lit(Similarity.InsertHashThreshold))
    val arrivals = embL.where(h >= lit(Similarity.InsertHashThreshold))
      .as[(Long, Seq[Double])].collect().toSeq.sortBy(_._1)
    assert(arrivals.size >= 2, "the hash split must leave an insert set")
    val (b1, b2) = arrivals.splitAt(arrivals.size / 2)
    // the codebooks and centroids train once on the base and freeze;
    // arrivals encode against that frozen model, batch by batch here
    val p = tmp("pqins")
    IvfIndex.build(spark, base, p, Spec(codec = Codec.Pq))
    open(p).insert(b1.toDF("vec_id", "e"))
    open(p).insert(b2.toDF("vec_id", "e"))
    // the same base, then every arrival in one insert
    val p2 = tmp("pqins1")
    IvfIndex.build(spark, base, p2, Spec(codec = Codec.Pq))
    open(p2).insert(arrivals.toDF("vec_id", "e"))
    val served = rows4(serve(p))
    assert(served.nonEmpty && served === rows4(serve(p2)))
    // a full build holds one membership row per corpus vector
    val nFull = embL.count()
    assert(spark.read.parquet(p + "/assign").count() === nFull)
    // replaying the first batch re-encodes it bit-identically
    open(p).insert(b1.toDF("vec_id", "e"))
    assert(spark.read.parquet(p + "/assign").count() > nFull, "the replay must append rows")
    assert(rows4(serve(p)) === served, "replayed rows must be invisible to coded serving")
    open(p).compact()
    assert(spark.read.parquet(p + "/assign").count() === nFull)
    assert(rows4(serve(p)) === served)
  }

  test("ivfDelete: tombstoned residents vanish from serving; compaction applies them physically") {
    import org.apache.spark.sql.functions.{col, lit}
    val embL = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val h = graft.functions.Hashes.md5Long60(col("vec_id").cast("string"))
    val p = tmp("del")
    IvfIndex.build(spark, embL, p, Spec())
    open(p).delete(embL.where(h >= lit(Similarity.InsertHashThreshold)).select(col("vec_id")))
    val served = rows4(serve(p))
    // law 1: serving with live tombstones == a fresh index over the
    // survivors (same centroids — the seed set is all low-hash)
    val p2 = tmp("delsurv")
    IvfIndex.build(spark, embL.where(h < lit(Similarity.InsertHashThreshold)), p2, Spec())
    assert(served.nonEmpty && served === rows4(serve(p2)))
    val deleted = embL.where(h >= lit(Similarity.InsertHashThreshold))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(deleted.nonEmpty && served.forall { case (_, nId, _, _) => !deleted(nId) },
      "a tombstoned id must never surface as a neighbor")
    // law 2: re-deleting / deleting a never-resident id is harmless
    open(p).delete(spark.range(999999L, 1000002L).select(col("id").as("vec_id")))
    assert(rows4(serve(p)) === served)
    // law 3: compaction applies tombstones physically and clears them
    open(p).compact()
    val tombP = new org.apache.hadoop.fs.Path(p + "/tombstones")
    val fs = tombP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(tombP), "compaction must clear the tombstone artifact")
    val nAssign = spark.read.parquet(p + "/assign").count()
    val nSurvivors = embL.where(h < lit(Similarity.InsertHashThreshold)).count()
    assert(nAssign === nSurvivors, "compaction must drop tombstoned membership rows")
    assert(rows4(serve(p)) === served)
  }

  test("insert into a balanced index assigns by the STORED penalized rule") {
    import org.apache.spark.sql.functions.col
    val p = tmp("balins")
    build(p, Balanced)
    val cents = open(p).centroids
    val pen = open(p).penalties.get
    val embL = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    // "late arrivals": existing vectors under fresh ids, so the expected
    // assignment is computable from the stored artifacts alone
    val nw = embL.where(col("vec_id") < 50)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("e"))
    open(p).insert(nw)
    val got = spark.read.parquet(p + "/assign").where(col("vec_id") >= 1000000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = nw.select(col("vec_id"),
        Similarity.listIdColPenalized(cents, pen)(col("e")).as("l"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.size === want.size && got === want,
      "balanced inserts must follow the penalty map the artifact ships")
  }

  test("list-stats audit: histogram covers the whole corpus and shares sum to ~1000") {
    val rows = Similarity.ivfListStatsQuery(spark, sfDir).collect()
    assert(rows.length === 16)
    val corpus = graft.Tables.embeddings(spark, sfDir).count()
    assert(rows.map(_.getLong(1)).sum === corpus,
      "every corpus vector must appear in exactly one list")
    val shareSum = rows.map(_.getLong(2)).sum
    // per-list truncating div loses at most 1 per-mille per list
    assert(shareSum <= 1000 && shareSum >= 1000 - rows.length)
  }

  // -- projected-IVF artifact (VERDICT r14 #3: the proj rung's face) --

  test("proj index: sign matrix round-trips; served == inline; corpus projection absent from the serving plan") {
    val p = tmp("proj")
    build(p, Spec(Transform.Proj))
    // the persisted transform IS the generated ±1 JL matrix, row-exact
    assert(open(p).projection.get.map(_.toVector).toVector ===
      Similarity.rpSignMatrix(64, 16).map(_.toVector).toVector)
    val served = rows4(serve(p))
    val inline = rows4(Similarity.annIvfProjected(spark, sfDir))
    assert(served.nonEmpty && served === inline,
      "serving from the proj artifacts must reproduce the inline-trained rung")
    val plan = serve(p)
      .queryExecution.executedPlan.toString
    assert(plan.contains("assign"), "serve must scan the persisted membership")
    assert(!plan.contains("array_max"),
      "served plan must be free of the corpus assignment expression")
  }

  // -- lifecycle guards (r14 ADVICE) --

  test("ivfInsert accepts coded (SQ8/PQ/OPQ) indexes — arrivals encode against the " +
      "frozen model and surface in coded serving; proj stays refused (r17 #1)") {
    import org.apache.spark.sql.functions.{col, lit}
    val embL = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    // the arrival is a CLONE of corpus vector 0 under a fresh id: its
    // insert-time encode against the frozen model must equal the donor's
    // build-time encode, so its reconstruction ties the donor's own and
    // it must surface as a served neighbor of the donor (the r14 hazard —
    // membership-only insert leaving arrivals code-less and invisible —
    // is exactly what this asserts cannot happen anymore)
    val donor = embL.where(col("vec_id") === 0L)
    val arrival = donor.select(lit(777777L).as("vec_id"), col("e"))
    val faces: Seq[(String, String => Unit)] = Seq(
      "sq8" -> (p => IvfIndex.build(spark, embL, p, Spec(codec = Codec.Sq8))),
      "pq" -> (p => IvfIndex.build(spark, embL, p, Spec(codec = Codec.Pq))),
      "opq" -> (p => IvfIndex.build(spark, embL, p, Spec(Transform.Perm, codec = Codec.Pq))))
    faces.foreach { case (name, build) =>
      val p = tmp(s"codedins_$name")
      build(p)
      open(p).insert(arrival)
      def servedIds(): Set[Long] = open(p).serve(donor, k = 5)
        .select("n_id").collect().map(_.getLong(0)).toSet
      assert(servedIds().contains(777777L),
        s"$name: the coded-inserted twin must surface in coded serving")
      // compaction rewrites codes + membership (tombstone-free here) and
      // must leave serving untouched
      val before = rows4(open(p).serve(donor, k = 5))
      open(p).compact()
      assert(rows4(open(p).serve(donor, k = 5)) === before,
        s"$name: compaction must be invisible to coded serving")
    }
    // the PCA-OPQ face with a LIVE Householder artifact, built over the
    // oblique plant (two strong off-axis directions, flat per-dim
    // variance — the SimilaritySpec r17 #5 fixture) where the stored
    // model is hw + perm, and the insert path must rotate-then-permute
    // arrivals by the STORED chain before encoding
    locally {
      import spark.implicits._
      val rnd = new scala.util.Random(7)
      val oblique = (0L until 400L).map { i =>
        val g = rnd.nextDouble() * 2 - 1; val h = rnd.nextDouble() * 2 - 1
        (i, Array.tabulate(64) { j =>
          g / 8.0 + (if (j % 2 == 0) 0.7 else -0.7) * h / 8.0 +
            (rnd.nextDouble() * 2 - 1) * 0.05
        }.toSeq)
      }.toDF("vec_id", "e")
      val p = tmp("codedins_opqpca")
      IvfIndex.build(spark, oblique, p, Spec(Transform.PcaCascade, codec = Codec.Pq))
      val fs = new org.apache.hadoop.fs.Path(p).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      assert(fs.exists(new org.apache.hadoop.fs.Path(p + "/hw")),
        "the oblique plant must engage the Householder stage")
      val donor = oblique.where(org.apache.spark.sql.functions.col("vec_id") === 0L)
      val arrival = donor.select(
        org.apache.spark.sql.functions.lit(777777L).as("vec_id"),
        org.apache.spark.sql.functions.col("e"))
      open(p).insert(arrival)
      // the FAISS add contract, asserted directly: the twin's insert-time
      // encode through the STORED hw→perm chain must equal the donor's
      // build-time encode — identical code word in every subspace and the
      // identical list assignment. (Top-5 membership — the proxy the real-
      // corpus faces use above — does not transfer here: the plant's 2-D
      // signal quantizes so coarsely that many vectors share a recon and
      // the donor's own recon ranks ~29th for its exact query.)
      def rowOf(id: Long, art: String) = spark.read.parquet(s"$p/$art")
        .where(org.apache.spark.sql.functions.col("vec_id") === id)
        .collect().map(_.toSeq.tail).toSeq
      assert(rowOf(777777L, "codes") == rowOf(0L, "codes"),
        "opq_pca: insert-time encode must equal the donor's build-time codes")
      assert(rowOf(777777L, "assign") == rowOf(0L, "assign"),
        "opq_pca: the twin must assign to the donor's list by the stored rule")
      // and the twin is genuinely SERVABLE (the r14 hazard was arrivals
      // silently vanishing from coded serving)
      val full = open(p).serve(donor, k = 400)
        .select("n_id").collect().map(_.getLong(0)).toSet
      assert(full.contains(777777L), "opq_pca: the twin must be a serving candidate")
      val before = rows4(open(p).serve(donor, k = 5))
      open(p).compact()
      assert(rows4(open(p).serve(donor, k = 5)) === before,
        "opq_pca: compaction must be invisible to coded serving")
    }
    // the projected family's centroids live in projected space — a raw
    // full-dim insert would silently mis-assign, so it is refused still
    val pp = tmp("projins")
    build(pp, Spec(Transform.Proj))
    val e3 = intercept[IllegalArgumentException] {
      open(pp).insert(embL.limit(1))
    }
    assert(e3.getMessage.contains("proj"), s"proj index must be refused: ${e3.getMessage}")
  }

  test("ivfCompact fails fast on a stale assign_old from an interrupted compaction") {
    import org.apache.spark.sql.functions.{col, lit}
    val embL = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val p = tmp("stale")
    IvfIndex.build(spark, embL, p, Spec())
    val fs = new org.apache.hadoop.fs.Path(p).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(p + "/assign_old"))
    intercept[IllegalArgumentException] { open(p).compact() }
    // the live membership was never touched by the refused compaction
    assert(spark.read.parquet(p + "/assign").count() ===
      graft.Tables.embeddings(spark, sfDir).count())
    fs.delete(new org.apache.hadoop.fs.Path(p + "/assign_old"), true)
    open(p).compact() // clean state compacts fine
    assert(rows4(serve(p)).nonEmpty)
  }

  test("ivfCompactIfNeeded: no-op under the file threshold, compacts above it, serving invariant") {
    import org.apache.spark.sql.functions.col
    val embL = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val p = tmp("trigger")
    IvfIndex.build(spark, embL, p, Spec())
    val before = rows4(serve(p))
    val f0 = open(p).assignFileCount
    assert(f0 > 0)
    // under threshold: untouched
    assert(!open(p).compactIfNeeded(maxFiles = f0 + 10))
    assert(open(p).assignFileCount === f0)
    // push the file count over with one-file insert batches of fresh ids
    (0 until 4).foreach { b =>
      open(p).insert(
        embL.where(col("vec_id") < 10)
          .select((col("vec_id") + 5000000L + b * 100L).as("vec_id"), col("e"))
          .coalesce(1))
    }
    assert(open(p).assignFileCount >= f0 + 4)
    assert(open(p).compactIfNeeded(maxFiles = f0 + 3, nFiles = 2))
    assert(open(p).assignFileCount <= 2)
    // original members' serving is untouched by the trigger's compaction
    assert(rows4(serve(p)) === before)
  }

  // -- deep-BPE model --

  test("BPE merge-table artifact round-trips and serves bit-identically") {
    val docs = graft.Tables.documents(spark, sfDir)
    val p = tmp("bpe")
    Bpe.saveDeepModel(docs, p)
    val loaded = Bpe.loadDeepMerges(spark, p)
    val trained = Bpe.deepMerges(docs).map { case (l, r, _) => (l, r) }
    assert(loaded === trained, "merge sequence must round-trip in rank order")
    val served = Bpe.tokenizeServe(spark, docs, p).collect().map(_.toSeq).toSet
    val inline = Bpe.tokenizeDeep(docs).drop("__ignore").collect().map(_.toSeq).toSet
    assert(served.nonEmpty && served === inline)
  }

  // -- serving compositions over the persisted rounds-0 IVF index --

  test("served vector arm (annIvfServed) == inline annIvfCosine, and its plan reads the artifact") {
    val served = rows4(Similarity.annIvfServed(spark, sfDir))
    val inline = rows4(Similarity.annIvfCosine(spark, sfDir))
    assert(served.nonEmpty && served === inline,
      "rounds-0 artifact centroids must equal the inline hash seeds")
    val plan = Similarity.annIvfServed(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("assign") && !plan.contains("array_max"))
  }

  test("hybrid RRF composed over the artifact == inline-trained hybrid, row for row") {
    val docs = graft.Tables.documents(spark, sfDir)
    val served = Hybrid.hybridRrfQuery(spark, sfDir).collect().map(_.toSeq).toSet
    val inline = Hybrid.hybridRrf(docs,
        Similarity.annIvfCosine(spark, sfDir, nQueries = 10, k = 20))
      .orderBy("q_id", "rank").collect().map(_.toSeq).toSet
    assert(served.nonEmpty && served === inline)
  }

  test("MMR composed over the artifact == inline-trained MMR, row for row") {
    val served = Similarity.mmrRerank(spark, sfDir, served = true)
      .collect().map(_.toSeq).toSet
    val inline = Similarity.mmrRerank(spark, sfDir, served = false)
      .collect().map(_.toSeq).toSet
    assert(served.nonEmpty && served === inline)
  }

  test("negative mining composed over the artifact == inline-trained, row for row") {
    val served = Similarity.contrastiveTriplets(spark, sfDir, served = true)
      .collect().map(_.toSeq).toSet
    val inline = Similarity.contrastiveTriplets(spark, sfDir, served = false)
      .collect().map(_.toSeq).toSet
    assert(served.nonEmpty && served === inline)
  }

  // -- the one layout: open derives an index's parts from its directory --

  test("every registered index opens to exactly the parts on disk and serves its query's rows") {
    val ivf = Set("centroids", "assign")
    val sq8 = ivf + "codes"
    val pq = sq8 + "codebooks"
    // (parts, the registered query the index answers). On this fixture
    // the PCA cascade's rotated gate engages, so opq_pca stores the
    // Householder model and its permutation; "ivf" backs the
    // compositions and equals knn_ann_ivf.
    val expected = Map(
      "ivf" -> (ivf, "knn_ann_ivf"),
      "pq" -> (pq, "knn_ann_ivf_pq_served"),
      "opq" -> (pq + "perm", "knn_ann_ivf_opq_served"),
      "opq_pca" -> (pq + "hw" + "perm", "knn_ann_ivf_opq_pca_served"),
      "sq8" -> (sq8, "knn_ann_ivf_sq8_served"),
      "proj" -> (ivf + "proj", "knn_ann_ivf_proj_served"),
      "ivf_ins" -> (ivf, "knn_ann_ivf_ins_served"),
      "pq_ins" -> (pq, "knn_ann_ivf_pq_ins_served"),
      "sq8_ins" -> (sq8, "knn_ann_ivf_sq8_ins_served"),
      "opq_ins" -> (pq + "perm", "knn_ann_ivf_opq_ins_served"),
      "ivf_del" -> (ivf + "tombstones", "knn_ann_ivf_del_served"))
    assert(IvfIndex.Registered.map(_._1).toSet === expected.keySet)
    IvfIndex.Registered.foreach { case (name, spec, lifecycle) =>
      val (parts, query) = expected(name)
      val idx = IvfIndex.served(spark, sfDir, spec, lifecycle)
      val dir = new org.apache.hadoop.fs.Path(idx.path)
      val onDisk = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(dir).map(_.getPath.getName).toSet
      assert(idx.parts === onDisk, s"$name: open must find exactly what is on disk")
      assert(onDisk === parts, s"$name: $spec at $lifecycle")
      val served = rows4(serve(idx.path))
      assert(served.nonEmpty && served === rows4(graft.SparkEntry.queries(query)(spark, sfDir)),
        s"$name: serving the opened index must reproduce $query")
    }
  }

  test("open refuses a directory that is not an index, naming the path") {
    val p = tmp("notidx")
    val e = intercept[IllegalArgumentException](IvfIndex.open(spark, p))
    assert(e.getMessage.contains(p), e.getMessage)
    val absent = p + "/absent"
    val e2 = intercept[IllegalArgumentException](IvfIndex.open(spark, absent))
    assert(e2.getMessage.contains(absent), e2.getMessage)
  }
}
