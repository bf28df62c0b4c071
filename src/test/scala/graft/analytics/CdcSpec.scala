package graft.analytics

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Content-defined chunking ([[Dedup.cdcChunks]] / [[Dedup.cdcReport]]).
  * The load-bearing law is SHIFT RESILIENCE — the one property that
  * separates CDC from fixed-size chunking and the reason it can dedup
  * shared bytes across differently-positioned copies: boundaries are a
  * function of the local k-gram content, so an edit perturbs at most the
  * chunks overlapping it and the first boundary after it; everything
  * later re-aligns chunk-for-chunk. */
class CdcSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = graft.Tables.documents(spark, sfDir)

  /** Deterministic pseudo-random letter text (no corpus dependence). */
  private def randText(seed: Long, n: Int): String = {
    val sb = new StringBuilder
    var x = seed
    (0 until n).foreach { _ =>
      x = x * 6364136223846793005L + 1442695040888963407L
      val r = ((x >>> 33) % 27).toInt
      sb.append(if (r == 26) ' ' else ('a' + r).toChar)
    }
    sb.toString
  }

  test("chunks tile each document exactly") {
    val chunks = Dedup.cdcChunks(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val lens = docs.select(col("doc_id"),
        length(TextAnalysis.normalized(col("text"))).cast("long").as("n"))
      .where(col("n") >= 8).as[(Long, Long)].collect().toMap
    assert(chunks.nonEmpty)
    chunks.groupBy(_._1).foreach { case (d, cs) =>
      val sorted = cs.sortBy(_._2)
      assert(sorted.head._2 === 1L, s"doc $d must start at 1")
      // contiguous: each chunk starts right after the previous ends
      sorted.sliding(2).foreach {
        case Array((_, s1, l1), (_, s2, _)) => assert(s2 === s1 + l1, s"doc $d gap at $s2")
        case _ =>
      }
      assert(sorted.map(_._3).sum === lens(d), s"doc $d chunk mass")
    }
    // mean chunk length is in the divisor's ballpark (content-defined,
    // not exact): divisor 64 on this corpus must land in [16, 256]
    val mean = chunks.map(_._3).sum.toDouble / chunks.length
    assert(mean > 16 && mean < 256, s"mean chunk length $mean")
    // the chunk hashes, replayed per document: normalize (space-only trim,
    // lowercase, whitespace collapse), close a chunk after every 8-code-
    // point window whose base-257 Horner value mod 2^31-1 is divisible by
    // 64, close the tail, md5-hex each chunk
    def replay(text: String): Seq[String] = {
      val cps = text.replaceAll("^ +", "").replaceAll(" +$", "")
        .toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ").codePoints().toArray
      val cuts = (0 to cps.length - 8).filter { i =>
        cps.slice(i, i + 8).foldLeft(0L)((a, c) => (a * 257 + c) % 2147483647L) % 64 == 0
      }.map(_ + 8)
      val ends = if (cuts.lastOption.contains(cps.length)) cuts else cuts :+ cps.length
      (0 +: ends).sliding(2).map { case Seq(s, e) =>
        java.security.MessageDigest.getInstance("MD5")
          .digest(new String(cps, s, e - s).getBytes("UTF-8")).map(b => f"$b%02x").mkString
      }.toSeq
    }
    val hashes = Dedup.cdcChunks(docs).select("doc_id", "c_start", "c_hash").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .groupBy(_._1).map { case (d, cs) => d -> cs.sortBy(_._2).map(_._3).toSeq }
    val texts = docs.select("doc_id", "text").as[(Long, String)].collect().toMap
    hashes.foreach { case (d, hs) => assert(hs == replay(texts(d)), s"doc $d chunk hashes") }
  }

  test("shift resilience: a prefix edit re-aligns the shared suffix chunk-for-chunk") {
    val shared = randText(42L, 600)
    val a = (1L, shared)
    val b = (2L, "inserted prefix " + shared)
    val two = Seq(a, b).toDF("doc_id", "text")
    val ch = Dedup.cdcChunks(two).collect()
      .map(r => (r.getLong(0), r.getString(3)))
    val ha = ch.filter(_._1 == 1L).map(_._2)
    val hb = ch.filter(_._1 == 2L).map(_._2).toSet
    assert(ha.length >= 5, s"600 chars at divisor 64 must yield several chunks: ${ha.length}")
    // all of A's chunks except at most the FIRST (the one the edit
    // region bleeds into) reappear verbatim in B
    val missing = ha.zipWithIndex.filter { case (h, _) => !hb.contains(h) }
    assert(missing.forall(_._2 == 0),
      s"only A's first chunk may miss; missing ranks: ${missing.map(_._2).toSeq}")
    assert(ha.count(hb.contains) >= ha.length - 1)
    // and the report sees the shared mass: every re-aligned chunk is a
    // cross-doc row
    val rep = Dedup.cdcReport(two).collect()
    assert(rep.length >= ha.length - 1)
    assert(rep.forall(r => r.getLong(2) === 2L && r.getLong(3) === 2L))
  }

  test("exact duplicate documents share every chunk") {
    val t = randText(7L, 500)
    val two = Seq((1L, t), (2L, t), (3L, randText(8L, 500))).toDF("doc_id", "text")
    val perDoc = Dedup.cdcChunks(two).collect().map(r => (r.getLong(0), r.getString(3)))
    val h1 = perDoc.filter(_._1 == 1L).map(_._2).toSeq
    val h2 = perDoc.filter(_._1 == 2L).map(_._2).toSeq
    assert(h1 === h2, "identical content must chunk identically")
    val rep = Dedup.cdcReport(two).collect().map(_.getString(0)).toSet
    assert(h1.toSet.subsetOf(rep), "every duplicated chunk reaches the report")
    // the unrelated doc contributes nothing shared (chunks are content)
    assert(Dedup.cdcReport(Seq((1L, t), (3L, randText(8L, 500)))
      .toDF("doc_id", "text")).count() === 0L)
  }

  test("cdcMass: exact duplicates are fully duplicated mass; fresh docs carry none") {
    val t = randText(7L, 500)
    val three = Seq((1L, t), (2L, t), (3L, randText(8L, 500))).toDF("doc_id", "text")
    val m = Dedup.cdcMass(three).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // both copies: every byte sits in a shared chunk -> 1000 per-mille
    assert(m(1L)._4 === 1000L && m(2L)._4 === 1000L, s"$m")
    assert(m(1L)._2 === m(1L)._3, "dup_bytes == total_bytes for a full copy")
    // the fresh doc shares nothing
    assert(m(3L)._3 === 0L && m(3L)._4 === 0L)
    // totals agree with the chunk frame
    val chunks = Dedup.cdcChunks(three).collect().map(r => (r.getLong(0), r.getLong(2)))
    m.foreach { case (id, (nc, tot, _, _)) =>
      val own = chunks.filter(_._1 == id)
      assert(own.length.toLong === nc && own.map(_._2).sum === tot, s"doc $id")
    }
    // corpus-level: per-mille bounded, dup never exceeds total
    val corpus = Dedup.cdcMass(docs).collect()
    assert(corpus.nonEmpty)
    corpus.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2) && r.getLong(4) >= 0L && r.getLong(4) <= 1000L)
    }
  }

  test("report on the corpus: counts consistent, no singleton rows") {
    val rep = Dedup.cdcReport(docs).collect()
    assert(rep.nonEmpty, "the corpus's injected duplicates must share chunks")
    rep.foreach { r =>
      assert(r.getLong(2) >= 2L && r.getLong(3) >= r.getLong(2))
      assert(r.getLong(1) >= 1L)
    }
  }
}
