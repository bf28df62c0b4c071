package graft.analytics

import graft.SparkSpec

class DedupSpec extends SparkSpec {

  test("dupClusters: min-label propagation reaches the per-component minimum, incl. a chain") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // components: {1,2,3,9} via chain 9-3-2-1 (diameter 3, forces >1 round),
    // {5,6}, and singletons 4, 7
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 9L).toDF("doc_id")
    val pairs = Seq((2L, 9L, 0L)).toDF("doc_a", "doc_b", "hamming")
      .union(Seq((3L, 9L, 0L), (1L, 2L, 0L), (5L, 6L, 0L)).toDF("doc_a", "doc_b", "hamming"))
      .select("doc_a", "doc_b")
    val got = Dedup.dupClusters(docs, pairs)
      .select("doc_id", "keeper").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L,
      5L -> 5L, 6L -> 5L, 4L -> 4L, 7L -> 7L))
  }

  test("dupClusters: local union-find path == distributed halving path on the corpus graph") {
    import spark.implicits._
    val corpus = graft.Tables.documents(spark, sfDir)
    val pairs = Dedup.simhashPairs(corpus)
    // localEdgeLimit = -1 forces every edge count onto the distributed
    // rounds; the default takes the driver union-find. Same fixpoint.
    val viaLocal = Dedup.dupClusters(corpus, pairs, localEdgeLimit = Long.MaxValue)
      .as[(Long, Long)].collect().toMap
    val viaRounds = Dedup.dupClusters(corpus, pairs, localEdgeLimit = -1L)
      .as[(Long, Long)].collect().toMap
    assert(viaLocal == viaRounds)
    assert(viaLocal.nonEmpty && viaLocal.forall { case (d, k) => k <= d })
  }
  import spark.implicits._

  // docs 1/2: near-identical (one word differs); doc 3: unrelated; doc 4:
  // exact copy of 1 (modulo case/whitespace — exercises normalization);
  // docs 5/6: share ONLY a high-frequency shingle run
  private val common = "alpha beta gamma delta epsilon zeta eta theta"
  private val docs = Seq(
    (1L, s"$common iota kappa"),
    (2L, s"$common iota lambda"),
    (3L, "one two three four five six seven eight nine ten"),
    (4L, s"  ${common.toUpperCase} IOTA   KAPPA "),
    (5L, s"$common x1 y1 z1 w1 v1"),
    (6L, s"$common x2 y2 z2 w2 v2")
  ).toDF("doc_id", "text")

  test("keepBest keeps the argmax-QUALITY cluster member, not the min id") {
    // cluster {1,2,3}: doc 3 is stopword-rich (highest quality) — min-id
    // canonicalization would wrongly keep doc 1; singleton 7 keeps itself
    val d = Seq(
      (1L, "xx yy zz!!! ...,,;;"),                 // punctuation-heavy => low
      (2L, "the of and xx yy zz!!!"),              // middling
      (3L, "the of and to in is xx yy zz"),        // stopword-rich => high
      (7L, "lone document seven")
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val got = Dedup.keepBest(d, pairs)
      .select("cluster", "best_doc_id", "n_members")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 3L, 3L), (7L, 7L, 1L)), s"got $got")
  }

  test("keepBest ties break to the smaller doc_id and null quality loses") {
    val d = Seq(
      (4L, null.asInstanceOf[String]), // null text => null quality: never wins over scored members
      (5L, "same words here"),
      (6L, "same words here")          // identical text => identical quality: tie
    ).toDF("doc_id", "text")
    val pairs = Seq((4L, 5L), (5L, 6L)).toDF("doc_a", "doc_b")
    val got = Dedup.keepBest(d, pairs)
      .select("cluster", "best_doc_id", "n_members")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((4L, 5L, 3L)), s"got $got")
  }

  test("exact dedup groups case/whitespace-normalized copies") {
    val got = Dedup.exact(docs).where($"n_copies" > 1)
      .select("keep_doc_id", "n_copies").as[(Long, Long)].collect()
    assert(got.toSeq == Seq((1L, 2L))) // docs 1 and 4
  }

  test("ngram Jaccard is EXACT even when the stop-shingle guard prunes candidacy") {
    // with maxDf=2 the shingles of `common` (df up to 4) are stop-shingles;
    // docs 1/2 still become candidates via rarer shingles, and their
    // jaccard must use the FULL shingle sets (the r1 bug divided filtered
    // intersections by unfiltered sizes)
    val pairs = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5, maxDf = 2)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    // hand-computed: doc1/doc2 trigram shingles: 8 each, 7 shared -> 7/9
    assert(pairs.contains((1L, 2L)))
    assert(math.abs(pairs((1L, 2L)) - math.floor(7.0 / 9.0 * 10000) / 10000) < 1.01e-4)
    // guard-only pairs (5,6) share just the common run, below threshold
    assert(!pairs.contains((5L, 6L)))
  }

  test("ngram guard-exactness: verified jaccard equals unguarded jaccard for surviving pairs") {
    val guarded = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5, maxDf = 2)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val unguarded = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5, maxDf = 1000)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(guarded.subsetOf(unguarded)) // guard may drop pairs, never distort
    guarded.foreach { case (a, b, j) =>
      assert(unguarded.contains((a, b, j)), s"pair ($a,$b) jaccard drifted")
    }
  }

  test("minhash LSH finds the high-jaccard pair with exact verification") {
    val got = Dedup.minhashLshPairs(docs, n = 3, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 2L)))
  }

  test("minhash signatures replay the Kirsch–Mitzenmacher definition per document on the real corpus") {
    import org.apache.spark.sql.functions.col
    val corpus = graft.Tables.documents(spark, sfDir)
      .where(col("text").isNotNull).limit(30).select("doc_id", "text")
    val batch = Dedup.minhashSignatures(corpus, n = 5, numHashes = 16)
      .collect().map(r => r.getLong(0) -> (1 to 16).map(r.getLong(_))).toMap
    // distinct 5-token shingles of a split on " " that keeps empty tokens
    // (Spark's split); h1/h2 = the two big-endian 32-bit halves of one md5;
    // component j = min over shingles of h1 + j·h2; no row below 5 tokens
    def replay(text: String): Option[Seq[Long]] = {
      val ws = java.util.regex.Pattern.compile(" ").split(text, -1)
      if (ws.length < 5) None
      else Some {
        val hs = ws.sliding(5).map(_.mkString(" ")).toSeq.distinct.map { s =>
          val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
          def half(from: Int) = (from until from + 4).foldLeft(0L)((a, b) => (a << 8) | (d(b) & 0xffL))
          (half(0), half(4))
        }
        (0 until 16).map(j => hs.map { case (h1, h2) => h1 + j * h2 }.min)
      }
    }
    val local = corpus.as[(Long, String)].collect()
      .flatMap { case (id, t) => replay(t).map(id -> _) }.toMap
    assert(batch.nonEmpty && local.keySet == batch.keySet)
    local.foreach { case (id, sig) => assert(sig == batch(id), s"doc $id") }
  }

  test("simhash: identical docs get identical hashes; near-dups land within small hamming") {
    val hashes = Dedup.simhash(docs).as[(Long, Long)].collect().toMap
    assert(hashes(1L) != hashes(3L))
    val pairs = Dedup.simhashPairs(docs, maxHamming = 8)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Long)].collect()
    pairs.foreach { case (a, b, h) =>
      assert(java.lang.Long.bitCount(hashes(a) ^ hashes(b)) == h)
      assert(h <= 8)
    }
  }

  test("ngramContamination: only cross-fold exact n-gram overlap is flagged") {
    val shared13 = "one two three four five six seven eight nine ten eleven twelve thirteen"
    val docs = Seq(
      (1L, s"train lead-in $shared13 and a tail"),
      (2L, s"eval intro then $shared13 closing words"),   // contaminated vs doc 1
      (3L, "an eval doc with entirely different content that shares no long gram with training data at all"),
      (4L, s"another train doc also containing $shared13 verbatim")
    ).toDF("doc_id", "text")
    val folds = Seq((1L, "train"), (2L, "test"), (3L, "val"), (4L, "train"))
      .toDF("doc_id", "fold")
    val got = Dedup.ngramContamination(docs, folds)
      .as[(Long, String, Long, Long)].collect()
    assert(got.map(_._1).toSeq == Seq(2L), s"only doc 2 is contaminated, got ${got.toSeq}")
    val row = got.head
    assert(row._2 == "test")
    assert(row._3 == 1L, "exactly one shared 13-gram")
    assert(row._4 == 1L, "sample train doc is the min id sharing the gram")
    // same-fold overlap (docs 1 and 4) must not be flagged
    assert(!got.exists(_._1 == 3L) && !got.exists(_._1 == 4L))
  }

  test("threshold sweep: monotone in tau, and each notch equals its solo pair pass") {
    val docs = graft.Tables.documents(spark, sfDir)
    val sweep = Dedup.thresholdSweep(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(sweep.map(_._1).toSeq == Seq(7000L, 8000L, 9000L))
    assert(sweep.sliding(2).forall { case Array(a, b) => a._2 >= b._2 && a._3 >= b._3 },
      s"pair/doc counts must be non-increasing in tau: ${sweep.toSeq}")
    // cross-check every notch against a solo ngramJaccardPairs run at
    // that threshold (the sweep must not distort candidate generation)
    for ((tau, nPairs, nDocs) <- sweep) {
      val solo = Dedup.ngramJaccardPairs(docs, threshold = tau / 10000.0)
        .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(solo.length.toLong == nPairs, s"tau=$tau: $nPairs vs solo ${solo.length}")
      assert(solo.flatMap(p => Seq(p._1, p._2)).distinct.length.toLong == nDocs)
    }
  }
}
