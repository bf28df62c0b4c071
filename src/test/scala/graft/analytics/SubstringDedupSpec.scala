package graft.analytics

import graft.SparkSpec

/** Laws for the cross-document exact-substring dedup family
  * ([[Dedup.substringSpans]] / [[Dedup.winnowedFingerprints]] /
  * [[Dedup.substringWinnowPairs]] / [[Dedup.substringCut]]). The real
  * corpus carries no engineered duplicates, so every law here INJECTS the
  * duplication it asserts on (see memory: dedup specs must inject
  * duplicates). */
class SubstringDedupSpec extends SparkSpec {
  import spark.implicits._

  private val K = 20
  private val W = 8

  // a 40-char shared payload (> K so interior grams exist, > K+W-1 so the
  // winnowing guarantee applies), embedded at different offsets inside
  // otherwise per-doc-unique filler: gram starts fully inside the payload
  // are cross-doc duplicated, straddling grams differ per doc
  private val payload = "the quick brown fox jumps over lazy dog!" // 40 chars
  private val docA = s"AAAAAAAAAAbbbbbbbbbbccccccccccdddddddddd$payload" +
    "eeeeeeeeeeffffffffff"
  private val docB = s"GGGGGGGGGGhhhhhhhhhh$payload" + "iiiiiiiiiijjjjjjjjjj"
  private val docU = "0123456789!@#$%^&*()qwertyuiopasdfghjklzxcvbnmQWERTYUIOP"

  private def docs = Seq(
    (1L, docA), (2L, docB), (3L, docU), (4L, null.asInstanceOf[String])
  ).toDF("doc_id", "text")

  test("substringSpans finds the injected shared substring with exact extent") {
    val got = Dedup.substringSpans(docs, K)
      .select("doc_id", "n_spans", "dup_chars", "max_span")
      .as[(Long, Long, Long, Long)].collect()
      .map { case (d, n, c, m) => d -> ((n, c, m)) }.toMap
    // one span per doc, covering exactly the 40-char payload
    val expected = (1L, 40L, 40L)
    assert(got.keySet == Set(1L, 2L),
      s"only the two payload carriers may have spans; got ${got.keySet}")
    assert(got(1L) == expected && got(2L) == expected, s"got $got")
  }

  test("intra-document repetition alone is NOT a cross-document span") {
    // doc 10 repeats its own 25-char block twice, but no other doc shares
    // any 20-gram with it: the cross-doc definition must stay silent
    val block = "zZzZzZzZzZzZzZzZzZzZzZzZz" // 25 chars
    val selfRep = Seq((10L, s"$block-0123456789-$block"), (11L, docU))
      .toDF("doc_id", "text")
    assert(Dedup.substringSpans(selfRep, K).count() == 0)
  }

  test("winnowing guarantee: a shared substring of >= k+w-1 chars shares a fingerprint") {
    val fp = Dedup.winnowedFingerprints(docs, K, W)
      .as[(Long, Long)].collect().groupBy(_._1).map { case (d, v) => d -> v.map(_._2).toSet }
    val shared = fp(1L) intersect fp(2L)
    assert(shared.nonEmpty, "payload carriers must share a winnowed fingerprint")
    assert((fp.getOrElse(3L, Set.empty[Long]) intersect fp(1L)).isEmpty,
      "unrelated doc must not collide")
  }

  test("winnowed fingerprints are a subset of the stride-1 gram digests") {
    val all = Dedup.substringWinnowPairs(docs, K, W, minShared = 1, maxDf = 1000)
      .as[(Long, Long, Long)].collect()
    assert(all.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    // subset law on the real corpus: selection only ever picks existing grams
    val corpus = graft.Tables.documents(spark, sfDir).where($"doc_id" < 50)
    val fps = Dedup.winnowedFingerprints(corpus, K, W)
      .select($"g").as[Long].collect().toSet
    val grams = corpus
      .where(org.apache.spark.sql.functions.length($"text") >= K)
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.expr(
          s"transform(sequence(0, length(text) - $K), " +
            s"i -> cast(conv(substring(md5(substring(text, i + 1, $K)), 1, 15), 16, 10) as long))"))
        .as("g")).as[Long].collect().toSet
    assert(fps.nonEmpty && fps.subsetOf(grams))
    // exact selection, replayed per document over code points: the 60-bit
    // md5 gram digests g, sort key (g mod 2^40)·2^20 + position, the
    // minimum of every full window of W keys
    def replay(text: String): Set[Long] = {
      val cps = text.codePoints().toArray
      val gs = (0 to cps.length - K).map { i =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(new String(cps, i, K).getBytes("UTF-8"))
        (0 until 8).foldLeft(0L)((a, b) => (a << 8) | (d(b) & 0xffL)) >>> 4
      }
      val keys = gs.zipWithIndex.map { case (g, i) => (g % (1L << 40)) * (1L << 20) + i }
      keys.sliding(W).map(win => gs((win.min % (1L << 20)).toInt)).toSet
    }
    val perDoc = Dedup.winnowedFingerprints(corpus, K, W)
      .as[(Long, Long)].collect().groupBy(_._1).map { case (d, v) => d -> v.map(_._2).toSet }
    val local = corpus.select("doc_id", "text").as[(Long, String)].collect()
      .collect { case (id, t) if t != null && t.codePointCount(0, t.length) >= K + W - 1 =>
        id -> replay(t) }.toMap
    assert(local.keySet == perDoc.keySet)
    local.foreach { case (id, fp) => assert(fp == perDoc(id), s"doc $id") }
  }

  test("span summary is repartition-invariant and null-text-safe") {
    val base = Dedup.substringSpans(docs, K).orderBy("doc_id").collect().toSeq
    val shuffled = Dedup.substringSpans(docs.repartition(7), K)
      .orderBy("doc_id").collect().toSeq
    assert(base == shuffled)
  }

  test("substringCut excises the non-canonical copy; spans on the output are empty") {
    val cut = Dedup.substringCut(docs, K)
    val m = cut.select("doc_id", "text", "n_cuts", "cut_chars")
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    // doc 1 carries the payload's min doc_id: canonical, byte-identical
    assert(m(1L)._2 == docA && m(1L)._3 == 0L && m(1L)._4 == 0L)
    // doc 2 lost exactly the 40-char payload, surrounding filler intact
    assert(m(2L)._2 == "GGGGGGGGGGhhhhhhhhhh" + "iiiiiiiiiijjjjjjjjjj")
    assert(m(2L)._3 == 1L && m(2L)._4 == 40L)
    // untouched and null docs pass through unchanged
    assert(m(3L)._2 == docU && m(3L)._3 == 0L && m(3L)._4 == 0L)
    assert(m(4L)._2 == null && m(4L)._3 == 0L && m(4L)._4 == 0L)
    // the Lee-et-al postcondition: rerunning the detector on the cleaned
    // corpus finds NO cross-document duplicated span
    assert(Dedup.substringSpans(cut.select("doc_id", "text"), K).count() == 0L)
  }

  test("overlapping duplicated extents merge: dup_chars exact, cut drops each char once") {
    // doc 2 holds a 45-char unique block at [10, 55); doc 1 shares its
    // first 25 chars (dup positions 10..15), doc 3 shares chars [20, 45)
    // of it (dup positions 30..35). The position gap is 15 <= k, so the
    // two runs' extents [10,35) and [30,55) OVERLAP — the r7-ADVICE
    // double-count shape: unmerged accounting would report 50 duplicated
    // chars for a 45-char duplicated region.
    val s45 = "abcdefghijklmnopqrstuvwxyz0123456789ABCDEFGHI"
    assert(s45.length == 45)
    val docAtext = ("x" * 12) + s45.substring(0, 25) + ("y" * 12)
    val docBtext = ("B" * 10) + s45 + ("b" * 10)
    val docCtext = ("p" * 7) + s45.substring(20, 45) + ("q" * 7)
    val d3 = Seq((1L, docAtext), (2L, docBtext), (3L, docCtext)).toDF("doc_id", "text")
    val sp = Dedup.substringSpans(d3, K)
      .select("doc_id", "n_spans", "dup_chars", "max_span")
      .as[(Long, Long, Long, Long)].collect()
      .map { case (d, n, c, mx) => d -> ((n, c, mx)) }.toMap
    assert(sp(2L) == ((1L, 45L, 45L)), s"merged span expected; got ${sp(2L)}")
    assert(sp(1L) == ((1L, 25L, 25L)) && sp(3L) == ((1L, 25L, 25L)))
    sp.foreach { case (d, (_, c, _)) =>
      val len = Map(1L -> docAtext, 2L -> docBtext, 3L -> docCtext)(d).length
      assert(c <= len, s"dup_chars $c exceeds doc length $len for doc $d")
    }
    val cut = Dedup.substringCut(d3, K)
    val cm = cut.select("doc_id", "text", "n_cuts", "cut_chars")
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    // doc 1 owns the first run (min doc_id): untouched
    assert(cm(1L)._2 == docAtext && cm(1L)._4 == 0L)
    // doc 2 owns the run shared with doc 3 but NOT the run shared with
    // doc 1: only [10, 35) is cut — each character leaves exactly once
    assert(cm(2L)._2 == ("B" * 10) + s45.substring(25) + ("b" * 10))
    assert(cm(2L)._3 == 1L && cm(2L)._4 == 25L)
    // doc 3's copy is non-canonical end to end
    assert(cm(3L)._2 == ("p" * 7) + ("q" * 7) && cm(3L)._4 == 25L)
    assert(Dedup.substringSpans(cut.select("doc_id", "text"), K).count() == 0L)
  }

  test("substringCut is repartition-invariant and idempotent on the corpus sample") {
    val corpus = graft.Tables.documents(spark, sfDir)
      .where($"doc_id" < 100)
    val base = Dedup.substringCut(corpus, K).orderBy("doc_id").collect().toSeq
    val shuffled = Dedup.substringCut(corpus.repartition(7), K)
      .orderBy("doc_id").collect().toSeq
    assert(base == shuffled)
    // idempotence: a second cut pass over already-clean text cuts nothing
    val once = Dedup.substringCut(corpus, K).select("doc_id", "text")
    val twice = Dedup.substringCut(once, K)
    import org.apache.spark.sql.functions.sum
    val cutsRound2 = twice.agg(sum("n_cuts")).head().getLong(0)
    assert(cutsRound2 == 0L, s"second pass still cut $cutsRound2 intervals")
  }
}
