package graft.analytics

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  test("hash split: deterministic, total, and roughly proportioned") {
    val docs = graft.Tables.documents(spark, sfDir)
    val a = Sampling.split(docs, col("doc_id")).select("doc_id", "fold")
      .as[(Long, String)].collect().toMap
    val b = Sampling.split(docs.repartition(7), col("doc_id"))
      .select("doc_id", "fold").as[(Long, String)].collect().toMap
    assert(a == b, "assignment must not depend on partitioning")
    assert(a.size == docs.count())
    val n = a.size.toDouble
    val frac = a.values.groupBy(identity).view.mapValues(_.size / n).toMap
    assert(math.abs(frac("train") - 0.8) < 0.1 && math.abs(frac("val") - 0.1) < 0.06,
      s"fold fractions drifted: $frac")
    // the fold replays from the key alone: the first 15 hex digits of
    // md5(decimal key), mod 1000, against the 800 and 900 cut points
    a.foreach { case (id, fold) =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
      val b = java.lang.Long.parseLong(hex, 16) % 1000
      assert(fold == (if (b < 800) "train" else if (b < 900) "val" else "test"), s"doc $id")
    }
  }

  test("group-aware split: keying by a group column keeps each group in one fold") {
    val docs = graft.Tables.documents(spark, sfDir)
      .withColumn("author", col("doc_id") % 7)
    val folds = Sampling.split(docs, col("author"))
      .select("author", "fold").distinct().collect()
    assert(folds.length == 7, "each author must map to exactly one fold")
  }

  test("stratified sample: deterministic under repartition, rates hit per stratum") {
    val ev = graft.Tables.events(spark, sfDir).select("event_id", "event_type")
    val rates = Seq("purchase" -> 1000, "signup" -> 500, "view" -> 200, "click" -> 100)
    def kept(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
      Sampling.stratifiedSample(df, col("event_id"), col("event_type"), rates, 50)
        .select("event_id", "event_type").as[(Long, String)].collect().toMap
    val a = kept(ev)
    val b = kept(ev.repartition(11))
    assert(a == b, "kept set must not depend on partitioning")
    val total = ev.groupBy("event_type").count().as[(String, Long)].collect().toMap
    val keptBy = a.groupBy(_._2).view.mapValues(_.size.toDouble).toMap
    assert(keptBy("purchase") == total("purchase").toDouble,
      "rate 1000 per-mille must keep the whole stratum")
    for ((s, r) <- Seq("signup" -> 0.5, "view" -> 0.2, "click" -> 0.1)) {
      val f = keptBy.getOrElse(s, 0.0) / total(s)
      assert(math.abs(f - r) < 0.1, s"stratum $s kept fraction $f, wanted ~$r")
    }
    assert(keptBy.getOrElse("error", 0.0) / total("error") < 0.12,
      "default rate must apply to unlisted strata")
  }

  test("weighted sample: deterministic, weight-biased, and top-k-optimized") {
    val docs = graft.Tables.documents(spark, sfDir).select("doc_id", "n_chars")
    def draw(df: org.apache.spark.sql.DataFrame) =
      Sampling.weightedSample(df, col("doc_id"), col("n_chars"), k = 20)
        .select("doc_id", "rank").as[(Long, Long)].collect().toMap
    val a = draw(docs)
    val b = draw(docs.repartition(9))
    assert(a == b, "sample (ids AND ranks) must not depend on partitioning")
    assert(a.size == 20 && a.values.toSeq.sorted == (1L to 20L))
    // weighting law: a by-length draw must overrepresent long documents.
    // Assert at k=100 (of 500 docs), NOT k=20: the draw is deterministic
    // per corpus but the corpus is regenerated per round, and at k=20 the
    // size-bias margin (~sigma^2/mu ~ 67 chars) is ~2 sampling-noise
    // sigmas — an unlucky corpus once realized 303.9 vs mean 306.3. At
    // k=100 the realized bias is ~44 chars against ~14-char noise. (Exact
    // per-row correctness is carried by the sample_weighted DuckDB oracle,
    // which recomputes the whole draw cross-engine at k=100.)
    val corpusMean = docs.agg(avg("n_chars")).head().getDouble(0)
    val a100 = Sampling.weightedSample(docs, col("doc_id"), col("n_chars"), k = 100)
      .select("doc_id").as[Long].collect().toSeq
    val sampleMean = docs.where(col("doc_id").isin(a100: _*))
      .agg(avg("n_chars")).head().getDouble(0)
    assert(sampleMean > corpusMean,
      s"length-weighted sample mean $sampleMean must exceed corpus mean $corpusMean")
    // scale shape: the rank<=k filter over the global row_number must
    // compile to a top-k (per-partition limit before the single merge
    // task), not a full global sort of the corpus. Spark expresses that
    // either as WindowGroupLimit (InferWindowGroupLimit) or — because the
    // window has no partitionBy — as TakeOrderedAndProject
    // (LimitPushDownThroughWindow); both are the scalable plan.
    val plan = Sampling.weightedSample(docs, col("doc_id"), col("n_chars"), k = 20)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit") || plan.contains("TakeOrderedAndProject"),
      s"expected a top-k plan (WindowGroupLimit or TakeOrderedAndProject):\n$plan")
  }

  test("mix_sources: proportions approach targets, unlisted sources drop, repartition-invariant") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sfDir).select("doc_id", "source")
    val targets = Seq("src0" -> 400, "src1" -> 250, "src2" -> 200, "src3" -> 150)
    val got = Sampling.mixSources(docs, targets)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(got.nonEmpty)
    assert(got.map(_._2).toSet.subsetOf(targets.map(_._1).toSet), "unlisted sources must drop")
    // replay the integer rate derivation and the md5 filter exactly
    val counts = docs.groupBy("source").count().as[(String, Long)].collect().toMap
    val m = targets.map { case (s, t) => counts(s) * 1000 / t }.min
    val rates = targets.map { case (s, t) => s -> math.min(1000L, t * m / counts(s)) }.toMap
    got.foreach { case (_, s, r) => assert(r == rates(s), s"rate for $s") }
    val kept = got.groupBy(_._2).view.mapValues(_.size).toMap
    // hash-threshold keeps ~rate_pm/1000 of each source: binomial-ish
    // tolerance at these sizes (n_s small at sf0.001) is generous
    targets.foreach { case (s, t) =>
      val expect = counts(s) * rates(s) / 1000.0
      assert(math.abs(kept.getOrElse(s, 0) - expect) <= math.max(3.0, 0.5 * expect),
        s"$s: kept ${kept.getOrElse(s, 0)} vs ~$expect")
    }
    // determinism under repartition
    val again = Sampling.mixSources(docs.repartition(7), targets)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(again.toSeq == got.toSeq)
  }

  test("pack_sequences matches the exclusive-running-total law, recomputed exactly") {
    val got = Sampling.packSequences(graft.Tables.documents(spark, sfDir))
      .select("shard", "bin", "doc_id", "n_tokens")
      .as[(Long, Long, Long, Long)].collect()
    assert(got.nonEmpty && got.map(_._1).distinct.length > 1)
    got.groupBy(_._1).foreach { case (_, rows) =>
      var running = 0L
      rows.sortBy(_._3).foreach { case (_, bin, id, n) =>
        assert(bin == running / 512, s"doc $id: bin $bin != ${running / 512}")
        running += n
      }
    }
  }

  test("concat_chunk: token conservation, full sequences, contiguous doc offsets") {
    val docs = graft.Tables.documents(spark, sfDir)
    val rows = Sampling.concatChunk(docs)
      .select("shard", "seq_id", "doc_id", "doc_offset", "n_toks")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    // law 1: per doc, chunk offsets are contiguous from 0 and sum to the
    // doc's token count (recomputed independently)
    val toks = docs.select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n"))
      .as[(Long, Long)].collect().toMap
    rows.groupBy(_._3).foreach { case (id, chunks) =>
      val sorted = chunks.sortBy(_._2)
      var off = 0L
      sorted.foreach { case (_, _, _, doff, n) =>
        assert(doff == off, s"doc $id: offset $doff != $off")
        assert(n > 0)
        off += n
      }
      assert(off == toks(id), s"doc $id: chunk tokens $off != ${toks(id)}")
    }
    // law 2: every sequence is exactly full (256) except each shard's tail
    rows.groupBy(r => (r._1, r._2)).foreach { case ((shard, seq), chunks) =>
      val tail = rows.filter(_._1 == shard).map(_._2).max
      val total = chunks.map(_._5).sum
      if (seq < tail) assert(total == 256L, s"seq ($shard,$seq) holds $total tokens")
      else assert(total <= 256L)
    }
    // law 3: layout is a function of the input set, not its partitioning
    val again = Sampling.concatChunk(docs.repartition(13))
      .select("shard", "seq_id", "doc_id", "doc_offset", "n_toks")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.sortBy(r => (r._1, r._2, r._3)).toSeq ==
      again.sortBy(r => (r._1, r._2, r._3)).toSeq)
  }

  test("mix_epochs_expand: per-doc copies in {base, base+1}, source mass matches the schedule") {
    val docs = graft.Tables.documents(spark, sfDir).select("doc_id", "source", "text")
    val targets = Seq("src0" -> 400, "src1" -> 250, "src2" -> 200, "src3" -> 150)
    val sched = Sampling.mixEpochs(docs.select("source", "text"), 40000L, targets)
      .select("source", "epochs_pm").as[(String, Long)].collect().toMap
    val got = Sampling.mixEpochsExpand(docs, 40000L, targets)
      .select("doc_id", "source", "copy").as[(Long, String, Long)].collect()
    assert(got.nonEmpty)
    // per doc: copies are contiguous 0..k-1 with k in {base, base+1}
    got.groupBy(r => (r._1, r._2)).foreach { case ((id, src), copies) =>
      val base = sched(src) / 1000
      val k = copies.length.toLong
      assert(copies.map(_._3).sorted.toSeq == (0L until k).toSeq, s"doc $id copies not contiguous")
      assert(k == base || k == base + 1, s"doc $id: $k copies, base $base")
    }
    // per source: realized copy mass within the per-mille slack of the
    // schedule (each doc contributes base + Bernoulli(frac/1000))
    val nBySrc = docs.groupBy("source").count().as[(String, Long)].collect().toMap
    got.groupBy(_._2).foreach { case (src, rows) =>
      val expectMass = nBySrc(src).toDouble * sched(src) / 1000.0
      val mass = rows.length.toDouble
      assert(math.abs(mass - expectMass) <= math.max(5.0, 0.15 * expectMass),
        s"$src: copy mass $mass vs schedule $expectMass")
    }
    // determinism under repartition
    val again = Sampling.mixEpochsExpand(docs.repartition(7), 40000L, targets)
      .select("doc_id", "source", "copy").as[(Long, String, Long)].collect()
    assert(got.sortBy(r => (r._1, r._3)).toSeq == again.sortBy(r => (r._1, r._3)).toSeq)
  }

  test("mix_curriculum: bucketed stages equal the exact sort-based ntile, sizes within 1") {
    val scored = TextAnalysis.qualityScore(graft.Tables.documents(spark, sfDir))
      .select("doc_id", "quality")
    val got = Sampling.curriculumStages(scored)
      .select("doc_id", "quality", "stage")
      .as[(Long, Double, Long)].collect()
    assert(got.nonEmpty)
    // exact replay: sort by (quality, doc_id), apply the ntile ceil/floor
    // split locally — the bucketed two-pass rank must match it bit-for-bit
    val n = got.length
    val q = n / 4; val r = n % 4
    def ntileOf(rn: Int): Long = // rn is 1-based
      if (q == 0) rn.toLong
      else if (rn <= r * (q + 1)) ((rn + q) / (q + 1)).toLong
      else (r + (rn - r * (q + 1) + q - 1) / q).toLong
    val expect = got.sortBy(x => (x._2, x._1)).zipWithIndex
      .map { case ((id, _, _), i) => id -> ntileOf(i + 1) }.toMap
    got.foreach { case (id, _, st) =>
      assert(st == expect(id), s"doc $id: stage $st != ${expect(id)}")
    }
    // stage sizes differ by at most 1 and stages are quality-ordered
    val sizes = got.groupBy(_._3).view.mapValues(_.length).toMap
    assert(sizes.keySet == (1L to 4L).toSet)
    assert(sizes.values.max - sizes.values.min <= 1)
    val maxByStage = got.groupBy(_._3).view.mapValues(_.map(x => (x._2, x._1)).max).toMap
    val minByStage = got.groupBy(_._3).view.mapValues(_.map(x => (x._2, x._1)).min).toMap
    for (s <- 1L to 3L)
      assert(Ordering[(Double, Long)].lt(maxByStage(s), minByStage(s + 1)),
        s"stage $s overlaps stage ${s + 1} in (quality, doc_id) order")
  }

  test("mix_epochs: integer schedule laws — cap, served, deficit") {
    val sched = Sampling.mixEpochs(
      graft.Tables.documents(spark, sfDir).select("source", "text"),
      budgetTokens = 40000L,
      Seq("src0" -> 400, "src1" -> 250, "src2" -> 200, "src3" -> 150))
      .select("source", "data_tokens", "wanted_tokens", "epochs_pm",
        "served_tokens", "deficit_tokens")
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(sched.length == 4)
    sched.foreach { case (src, data, wanted, epm, served, deficit) =>
      assert(epm > 0 && epm <= 4000, s"$src: epochs_pm $epm out of range")
      assert(served == data * epm / 1000, s"$src: served mismatch")
      assert(deficit == math.max(0L, wanted - served), s"$src: deficit mismatch")
      // an uncapped source meets its demand up to integer-floor slack
      if (epm < 4000) assert(deficit <= data / 1000 + 1,
        s"$src: uncapped but deficit $deficit")
      // a capped source serves exactly 4 epochs of what it has
      else assert(served == data * 4, s"$src: capped but served != 4 epochs")
    }
  }

  test("group reservoir: exactly min(k,|group|) per source, ES keeper set re-derived locally") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "source", "n_chars")
    val got = Sampling.groupReservoirQuery(spark, sfDir).collect()
      .map(r => (r.getString(1), r.getLong(0), r.getLong(3)))
    val sizes = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    got.groupBy(_._1).foreach { case (src, rows) =>
      assert(rows.length.toLong == math.min(10L, sizes(src)), src)
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq, s"$src ranks")
    }
    // local ES replay for one group: same salted key, same ordering
    val src0 = docs.where(col("source") === "src0")
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // the row-local ES key: Sampling.localGroupEsKey
    val want = src0.sortBy { case (id, w) =>
      (-Sampling.localGroupEsKey(id, w), id) }.take(10).map(_._1).toSeq
    val gotSrc0 = got.filter(_._1 == "src0").sortBy(_._3).map(_._2).toSeq
    assert(gotSrc0 == want, "src0 keeper order must match the local ES replay")
  }
}
