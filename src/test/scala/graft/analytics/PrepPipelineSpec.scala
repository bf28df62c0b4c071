package graft.analytics

import org.apache.spark.sql.functions._

import graft.SparkSpec

class PrepPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("pipe_prep manifest: stage laws hold end-to-end") {
    val m = PrepPipeline.manifest(spark, sfDir)
      .as[(Long, String, Long, Option[Long], Option[Long])].collect().toSeq
    assert(m.nonEmpty)
    val byId = m.map(r => r._1 -> r).toMap
    assert(byId.size == m.size, "one row per surviving doc")

    val docs = graft.Tables.documents(spark, sfDir)
    // 1. every survivor passed the quality gate
    val keep = TextAnalysis.c4Filter(docs).where($"keep")
      .select("doc_id").as[Long].collect().toSet
    assert(m.forall(r => keep(r._1)), "survivors must pass the c4 gate")
    // 2. every survivor is its digest group's keeper (min doc_id)
    val keepers = Dedup.exact(docs.join(keep.toSeq.toDF("doc_id"), "doc_id"))
      .select("keep_doc_id").as[Long].collect().toSet
    assert(m.forall(r => keepers(r._1)), "survivors must be dedup keepers")
    // 3. packed exactly the train rows; eval rows unpacked but present
    m.foreach { case (id, fold, _, shard, bin) =>
      assert((fold == "train") == (shard.isDefined && bin.isDefined),
        s"doc $id ($fold): shard/bin iff train")
    }
    // 4. no surviving train doc shares a 13-gram with any eval doc
    val folds = Sampling.split(docs.select("doc_id"), col("doc_id"))
      .select("doc_id", "fold")
    val dd = docs.select("doc_id", "text")
      .join(keepers.toSeq.toDF("doc_id"), "doc_id")
    val leakingTrain = Dedup.contaminationPairs(dd, folds)
      .select("train_doc").as[Long].collect().toSet
    assert(m.filter(_._2 == "train").forall(r => !leakingTrain(r._1)),
      "no surviving train doc may leak into eval")
    // 5. eval-fold keepers all survive (decontamination never drops eval)
    val evalKeepers = folds.join(dd, "doc_id").where($"fold" =!= "train")
      .select("doc_id").as[Long].collect().toSet
    assert(evalKeepers.forall(byId.contains), "every eval keeper survives")
  }

  test("pipe_prep manifest is unchanged when exact-dedup non-keepers are removed up front") {
    // the corpus carries no duplicate mass, so inject it under fresh ids:
    // 20 verbatim copies, 10 case-mangled, 10 whitespace-padded (leading
    // spaces and doubled internal spaces normalize away), and a chain of
    // two more copies of the first document
    val base = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1).toSeq
    val corpus = (base ++
      base.take(20).map { case (id, t) => (10000L + id, t) } ++
      base.slice(20, 30).map { case (id, t) => (20000L + id, t.toUpperCase) } ++
      base.slice(30, 40).map { case (id, t) => (30000L + id, "  " + t.replaceAll(" ", "  ")) } ++
      Seq((40000L, base.head._2), (40001L, base.head._2))).sortBy(_._1)
    val docsDF = corpus.toDF("doc_id", "text")
    val keepers = Dedup.exact(docsDF).select("keep_doc_id").as[Long].collect().toSet
    val dropped = corpus.map(_._1).toSet -- keepers
    assert(dropped.size == 42 && dropped.forall(_ >= 10000L),
      s"expected exactly the 42 injected copies, got ${dropped.size}")
    val survivors = docsDF.join(keepers.toSeq.toDF("doc_id"), "doc_id")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, String, Long, Option[Long], Option[Long])].collect().sortBy(_._1).toSeq
    val full = rows(PrepPipeline.manifestOf(docsDF))
    val pre = rows(PrepPipeline.manifestOf(survivors))
    assert(pre == full,
      s"only-pre: ${(pre.toSet -- full.toSet).take(3)}, only-full: ${(full.toSet -- pre.toSet).take(3)}")
    assert(full.nonEmpty && full.forall(_._1 < 10000L))
  }

  test("pipe_prep_quality: a boilerplate-wrapped dup loses to its clean twin") {
    // the motivating FineWeb case: the same text once clean, once wrapped
    // in punctuation boilerplate. Exact dedup can't even GROUP the two
    // (different digests); near-dup clustering pairs them, and the
    // quality keeper must pick the clean copy — even though the wrapped
    // copy holds the SMALLER doc_id (so min-id canonicalization would
    // keep the wrong one).
    val sentence = "the cat sat on the mat and the dog ran to " +
      "the tree in the yard of the house is fine"
    val base = Seq.fill(10)(sentence).mkString(" ")
    val wrapped = base + "!!!;;;,,,"
    val other = Seq.fill(10)("the bird flew over the lake and the fish " +
      "swam in the water of the pond is calm").mkString(" ")
    val docs = Seq((1L, wrapped), (2L, base), (3L, other)).toDF("doc_id", "text")
    // both twins pass the c4 gate (the boilerplate is below the gate's
    // punctuation threshold — exactly the mass the gate alone misses)
    val gateKeep = TextAnalysis.c4Filter(docs).where($"keep")
      .select("doc_id").as[Long].collect().toSet
    assert(gateKeep == Set(1L, 2L, 3L), s"gate kept $gateKeep")
    // the twins are a simhash near-dup pair (x10 token counts give every
    // simhash bit a margin the weight-1 boilerplate token cannot flip)
    val pairs = Dedup.simhashPairs(docs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"twins must collide; got $pairs")
    // quality orders clean above wrapped (same stopword ratio, higher
    // punctuation density on the wrapped copy)
    val qual = TextAnalysis.qualityScore(docs)
      .select("doc_id", "quality").as[(Long, Double)].collect().toMap
    assert(qual(2L) > qual(1L), s"quality must prefer the clean twin: $qual")
    // exact dedup keeps BOTH — pipe_prep's keeper policy cannot fix this
    assert(Dedup.exact(docs).count() == 3)
    val ids = PrepPipeline.manifestQualityOf(docs)
      .select("doc_id").as[Long].collect().toSet
    assert(ids.contains(2L) && !ids.contains(1L),
      s"quality manifest must keep 2 and drop 1; got $ids")
  }

  test("pipe_prep_clean: duplicated bytes are excised, fully-duplicated docs vanish") {
    val sentence = "the cat sat on the mat and the dog ran to " +
      "the tree in the yard of the house is fine"
    val a = Seq.fill(8)(sentence).mkString(" ")
    val span = a.substring(100, 160) // 60 verbatim chars of doc 1
    // doc 2's own vocabulary is DISTINCT from doc 1's (zebra/quark/...)
    // so after the span is cut the two are no longer simhash near-dups —
    // doc 2 must survive as its own cluster, not lose to doc 1's quality
    val b = "the order from zebra quark nebula is fast and we scan " +
      "bright copper matrix " + span + " with silver lantern meadow glacier " +
      "to finish carbon prism velvet anchor falcon properly now"
    val c = a // full verbatim copy: every 20-gram owned by doc 1
    val docs = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    // all three pass the gate on their ORIGINAL text
    val gateKeep = TextAnalysis.c4Filter(docs).where($"keep")
      .select("doc_id").as[Long].collect().toSet
    assert(gateKeep == Set(1L, 2L, 3L), s"gate kept $gateKeep")
    val m = PrepPipeline.manifestCleanOf(docs)
      .select("doc_id", "n_tokens").as[(Long, Long)].collect().toMap
    // doc 1 owns every duplicated gram: canonical, survives whole
    assert(m.contains(1L), s"canonical doc must survive; got ${m.keySet}")
    // doc 3 is duplicated end to end: cut to nothing, exits the pipeline
    assert(!m.contains(3L), s"fully-duplicated doc must vanish; got ${m.keySet}")
    // doc 2 survives with the span EXCISED: its manifest token count is
    // the cleaned text's, not the original's
    val cleanedB = Dedup.substringCut(docs, 20)
      .where($"doc_id" === 2L).select("text").as[String].head()
    assert(!cleanedB.contains(span) && cleanedB.length < b.length,
      "doc 2's span must be cut")
    val cleanedTokens = TextAnalysis.tokens(
      org.apache.spark.sql.functions.lit(cleanedB))
    val nTokClean = Seq(Tuple1("x")).toDF("d")
      .select(org.apache.spark.sql.functions.size(cleanedTokens)).as[Int].head()
    assert(m(2L) == nTokClean.toLong,
      s"manifest must count CLEANED tokens: ${m(2L)} vs $nTokClean")
  }

  test("pipe_prep_semantic: a paraphrase survives every verbatim stage and collapses at the semantic stage") {
    // the motivating SemDeDup case: two documents that say the same
    // thing in DIFFERENT words — no shared bytes, no shared grams, no
    // simhash collision — whose embeddings are near-identical. Every
    // verbatim stage (gate, substring cut, near-dup keeper) must keep
    // both; only the semantic stage can see the duplication.
    // each doc: one gate-passing "the"-heavy sentence + 40 doc-UNIQUE
    // filler tokens, so the doc-unique token mass dominates the shared
    // stopword skeleton in the TF-weighted simhash (repeating one
    // sentence x10 instead makes ALL such docs simhash-collide — the
    // skeleton outweighs the content words)
    def fill(p: String) = (1 to 40).map(i => p + i).mkString(" ")
    val a = "the cat sat on the mat and the dog ran to " +
      "the tree in the yard of the house is fine " + fill("alpha")
    val b = "the bird flew over the lake and the fish " +
      "swam in the water of the pond is calm " + fill("bravo")
    val c = "the horse stood near the fence and the goat " +
      "walked along the path by the barn is old " + fill("charlie")
    val d = "the mouse hid under the floor and the owl " +
      "watched from the beam of the roof is high " + fill("delta")
    val docs = Seq((1L, a), (2L, b), (3L, c), (4L, d)).toDF("doc_id", "text")
    // embeddings: 1 and 2 are the paraphrase pair (cosine rounds to 1.0
    // at 4 digits — forced into one list by the smaller-centroid tie
    // rule); 3 is orthogonal; 4 has NO embedding row (pass-through law)
    val e1 = Seq(1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
    val e2 = Seq(1.0, 1e-4, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
    val e3 = Seq(0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0)
    val emb = Seq((1L, e1), (2L, e2), (3L, e3)).toDF("vec_id", "embedding")
    // the paraphrases pass the gate and do NOT collide on any verbatim
    // signal: the v3 (clean) manifest keeps both
    val verbatim = PrepPipeline.manifestCleanOf(docs)
      .select("doc_id").as[Long].collect().toSet
    assert(verbatim == Set(1L, 2L, 3L, 4L),
      s"verbatim stages must keep the paraphrase pair intact; got $verbatim")
    // the v4 manifest collapses the pair at the semantic stage: retention
    // order (cent_cos ASC, vec_id ASC) keeps doc 1, drops doc 2; the
    // orthogonal doc and the embedding-less doc survive
    val ids = PrepPipeline.manifestSemanticOf(docs, emb)
      .select("doc_id").as[Long].collect().toSet
    assert(ids == Set(1L, 3L, 4L),
      s"semantic manifest must keep {1,3,4} and drop the paraphrase 2; got $ids")
  }

  test("pipe_prep_train: doc set == the manifest's packed train set, tokens conserved, stages 1..4") {
    import org.apache.spark.sql.functions.col
    val train = PrepPipeline.manifestTrain(spark, sfDir)
      .select("doc_id", "stage", "shard", "seq_id", "doc_offset", "n_toks")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(train.nonEmpty)
    // the training view covers exactly the docs pipe_prep packs (fold ==
    // train, decontam survivor — the ones with a non-null shard/bin)
    val manifest = PrepPipeline.manifest(spark, sfDir)
      .select("doc_id", "fold", "n_tokens", "shard")
      .as[(Long, String, Long, Option[Long])].collect()
    val packedDocs = manifest.filter(_._4.isDefined).map(m => m._1 -> m._3).toMap
    assert(train.map(_._1).toSet == packedDocs.keySet,
      "training view must cover exactly the manifest's packed train docs")
    // token conservation per doc vs the manifest's independent count
    val perDoc = train.groupBy(_._1).view.mapValues(_.map(_._6).sum).toMap
    perDoc.foreach { case (id, tot) =>
      assert(tot == packedDocs(id), s"doc $id: chunk tokens $tot != manifest ${packedDocs(id)}")
    }
    // curriculum stages present and bounded; every stage non-empty
    val stages = train.map(r => r._1 -> r._2).toMap.values.toSeq
    assert(stages.forall(s => s >= 1 && s <= 4))
    assert(stages.distinct.sorted == Seq(1L, 2L, 3L, 4L))
    // sequences are full except each shard's tail (the concat-chunk law,
    // re-asserted through the composition)
    train.groupBy(r => (r._3, r._4)).foreach { case ((shard, seq), chunks) =>
      val tail = train.filter(_._3 == shard).map(_._4).max
      if (seq < tail) assert(chunks.map(_._6).sum == 256L)
    }
  }

  test("pipe_prep_tok: packs the SAME docs by real BPE counts; tokens conserve vs an independent tokenize") {
    import org.apache.spark.sql.functions.{col, length, trim}
    val tok = PrepPipeline.manifestTok(spark, sfDir)
      .select("doc_id", "stage", "shard", "seq_id", "doc_offset", "n_toks")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    val train = PrepPipeline.manifestTrain(spark, sfDir)
      .select("doc_id", "n_toks").as[(Long, Long)].collect()
    assert(tok.nonEmpty)
    // same curated doc set as the whitespace-packed view (the survivor
    // chain is shared; only the token arithmetic differs)
    assert(tok.map(_._1).toSet === train.map(_._1).toSet)
    // per-doc conservation against an INDEPENDENT recomputation: rebuild
    // the survivor text, retrain the tokenizer on it, tokenize — the
    // composition must agree with the parts
    val docs = graft.Tables.documents(spark, sfDir)
    val trainIds = tok.map(r => r._1).toVector.distinct.toDF("doc_id")
    val trainDocs = docs.join(trainIds, "doc_id").select("doc_id", "text")
    val merges = Bpe.deepMerges(trainDocs).map { case (l, r, _) => (l, r) }
    val counts = Bpe.tokenizeWith(trainDocs, merges)
      .select("doc_id", "n_bpe_tokens").as[(Long, Long)].collect().toMap
    tok.groupBy(_._1).view.mapValues(_.map(_._6).sum).foreach { case (id, tot) =>
      assert(tot === counts(id), s"doc $id: packed $tot != tokenized ${counts(id)}")
    }
    // BPE compresses: token mass strictly below the non-space char count
    // (tokens never exceed chars; the learned merges bite on this corpus)
    val chars = trainDocs
      .select(col("doc_id"),
        length(org.apache.spark.sql.functions.regexp_replace(trim(col("text")), "\\s", ""))
          .cast("long")).as[(Long, Long)].collect().toMap
    val totTok = tok.map(_._6).sum
    assert(totTok < chars.values.sum, "BPE must compress below the char count")
    // stages still 1..4 and full-sequence law under the BPE counts
    assert(tok.map(_._2).forall(s => s >= 1 && s <= 4))
    tok.groupBy(r => (r._3, r._4)).foreach { case ((shard, seq), chunks) =>
      val tail = tok.filter(_._3 == shard).map(_._4).max
      if (seq < tail) assert(chunks.map(_._6).sum == 256L)
    }
  }

  test("pipe_prep_dsir: kept set == positive-LLR half of the survivor corpus, tokens conserved") {
    val dsir = PrepPipeline.manifestDsir(spark, sfDir)
      .select("doc_id", "dsir_w", "shard", "seq_id", "doc_offset", "n_toks")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(dsir.nonEmpty)
    // survivor chain is shared with pipe_prep_train: the kept docs are a
    // SUBSET of the packed train set, and exactly the positive-weight
    // half of an independently fit model over that set
    val train = PrepPipeline.manifestTrain(spark, sfDir)
      .select("doc_id", "n_toks").as[(Long, Long)].collect()
    val trainIds = train.map(_._1).toSet
    assert(dsir.map(_._1).toSet.subsetOf(trainIds))
    val docs = graft.Tables.documents(spark, sfDir)
    val surv = docs.join(trainIds.toSeq.toDF("doc_id"), "doc_id")
      .select("doc_id", "lang", "text")
    val w = Sampling.dsirWeights(surv).as[(Long, Long)].collect().toMap
    val expectKept = w.filter(_._2 > 0).keySet
    assert(dsir.map(_._1).toSet == expectKept,
      "kept set must be exactly the positive-LLR docs of the refit model")
    // every output row carries the exact refit weight; all positive
    dsir.foreach { case (id, dw, _, _, _, _) =>
      assert(dw > 0 && dw == w(id), s"doc $id")
    }
    // token conservation per doc vs the train view's whitespace counts
    val trainTok = train.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    dsir.groupBy(_._1).view.mapValues(_.map(_._6).sum).foreach { case (id, tot) =>
      assert(tot == trainTok(id), s"doc $id: $tot != ${trainTok(id)}")
    }
    // full-sequence law over the kept packing
    dsir.groupBy(r => (r._3, r._4)).foreach { case ((shard, seq), chunks) =>
      val tail = dsir.filter(_._3 == shard).map(_._4).max
      if (seq < tail) assert(chunks.map(_._6).sum == 256L)
    }
  }

  test("pipe_prep_incr: every output doc is in the increment, novel, gated, and nowhere in v1") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sfDir)
    val out = PrepPipeline.manifestIncr(spark, sfDir).collect()
    assert(out.nonEmpty, "the increment chain must keep something at sf0.001")
    val outIds = out.map(_.getLong(0)).toSet
    val v1 = CurationAudit.snapshotV1(docs).select("doc_id", "text")
    val v2 = CurationAudit.snapshotV2(docs).select("doc_id", "text")
    // membership: output ⊆ the new-or-changed increment
    val v1Dig = v1.select(col("doc_id"), md5(col("text")).as("dig"))
    val incIds = v2.withColumn("dig", md5(col("text")))
      .join(v1Dig, Seq("doc_id", "dig"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(outIds.subsetOf(incIds), "output must come from the increment only")
    // resident dedup: no output doc's normalized digest exists in v1
    val v1Norm = v1.select(md5(TextAnalysis.normalized(col("text"))).as("h"))
      .collect().map(_.getString(0)).toSet
    import spark.implicits._
    val outNorm = v2.join(outIds.toSeq.toDF("doc_id"), "doc_id")
      .select(md5(TextAnalysis.normalized(col("text"))).as("h"))
      .collect().map(_.getString(0))
    assert(outNorm.forall(h => !v1Norm(h)), "resident duplicates must drop")
    // novelty floor: every output doc has >= 1 trigram absent from v1
    val refTris = Dedup.shingleHashes(v1, 3).select("h1", "h2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val outTris = Dedup.shingleHashes(
        v2.join(outIds.toSeq.toDF("doc_id"), "doc_id"), 3)
      .collect().groupBy(_.getLong(0))
    assert(outIds.forall(id => outTris(id)
        .exists(r => !refTris((r.getLong(1), r.getLong(2))))),
      "every kept doc must contribute a resident-unseen trigram")
    // tail laws shared with pipe_prep: folds legal, train-only packing
    assert(out.forall(r => Set("train", "val", "test")(r.getString(1))))
    assert(out.filter(_.getString(1) != "train").forall(_.isNullAt(3)))
  }

  test("pipe_prep_mm: an image near-dup with distinct text drops at the image stage") {
    val docs = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
    val gated0 = TextAnalysis.c4Filter(docs).where($"keep")
      .select("doc_id").as[Long].collect().toSet
    val maxId = docs.agg(max($"doc_id")).as[Long].head()
    // clone a gated doc with ONE in-place char edit inside a token none
    // of the gate regexes count: the normalized digests differ (text
    // dedup keeps both) while the pooled-luminance grid moves by at most
    // one cell (dHash pairs them); the clone's id is higher, so the
    // cluster keeper is the original and the clone must drop
    val special = Set("the", "a", "of", "and", "to", "in", "is",
      "order", "fast", "scan", "stream", "merge", "window",
      "table", "query", "group", "join", "filter", "sort")
    val (srcId, srcText) = docs.where($"doc_id" === gated0.min)
      .as[(Long, String)].head()
    val pos = {
      var p = -1; var off = 0
      for (tok <- srcText.split(" ") if p < 0) {
        if (tok.length >= 4 && !special(tok.toLowerCase) &&
            tok.forall(c => c >= 'a' && c <= 'y')) p = off + 1
        off += tok.length + 1
      }
      assert(p >= 0, "corpus must contain an editable token"); p
    }
    val mutated = srcText.updated(pos, (srcText(pos) + 1).toChar)
    val cloneId = maxId + 1
    val corpus = docs.unionByName(Seq((cloneId, mutated)).toDF("doc_id", "text"))
    // precondition: the edit keeps every gate stat (same token count,
    // same counted-word hits) — the clone reaches stage 2
    assert(TextAnalysis.c4Filter(corpus)
      .where($"keep" && $"doc_id" === cloneId).count() == 1)
    val mm = PrepPipeline.manifestMmOf(spark, corpus)
      .select("doc_id").as[Long].collect().toSet
    val base = PrepPipeline.manifestOf(corpus)
      .select("doc_id").as[Long].collect().toSet
    assert(base(cloneId), "text-only pipeline keeps the clone (distinct digest)")
    assert(!mm(cloneId), "the image stage must drop the clone (near-dup image, higher id)")
    assert(mm(srcId) == base(srcId), "the canonical member's fate is unchanged")
    // the general law: every mm survivor is a text keeper AND its image
    // cluster's keeper, and mm adds nothing the text pipeline rejected
    val kept = corpus.join(TextAnalysis.c4Filter(corpus).where($"keep")
      .select("doc_id"), "doc_id")
    val imgKeepers = Dedup.dupClusters(kept,
        Dedup.hash64Pairs(Multimodal.dHash(spark, kept)).select("doc_a", "doc_b"))
      .where($"doc_id" === $"keeper").select("doc_id").as[Long].collect().toSet
    val textKeepers = Dedup.exact(kept).select("keep_doc_id").as[Long].collect().toSet
    val audKeepers = Dedup.dupClusters(kept,
        Dedup.hash64Pairs(Multimodal.aHash(spark, kept)).select("doc_a", "doc_b"))
      .where($"doc_id" === $"keeper").select("doc_id").as[Long].collect().toSet
    assert(mm.forall(id => textKeepers(id) && imgKeepers(id) && audKeepers(id)))
  }

  /** Audio-preserving scramble: inside every plain all-letter word that
    * no gate/marker regex counts, swap character pairs whose byte
    * offsets share PARITY and lie inside ONE aHash energy window.
    * Window energy = Σ even-position bytes + 256·Σ odd-position bytes
    * over the window's span (ASCII ⇒ abs is the identity), so such a
    * swap permutes bytes within the (parity, window) classes and every
    * window's energy — hence the whole aHash — is EXACTLY unchanged.
    * The gate is exactly unchanged too: token count and punctuation are
    * untouched (letters only), and every gate/marker regex is a
    * \b-anchored whole word — counted words are skipped, and a scramble
    * cannot create a boundary inside a token. Pixel bytes DO move (the
    * dHash grid has no parity structure), so the luminance grid
    * reshuffles at every swapped word. */
  private def audioPreservingScramble(text: String): String = {
    val ns = (text.length + 1) / 2
    def window(c: Int): Long = (c / 2).toLong * 65 / ns
    // every word some c4Filter / langMarkers regex counts
    val counted = Set("the", "a", "of", "and", "to", "in", "is",
      "order", "fast", "scan", "stream", "merge", "window",
      "table", "query", "group", "join", "filter", "sort")
    val chars = text.toCharArray
    var off = 0
    for (w <- text.split(" ", -1)) {
      if (w.length >= 4 && w.forall(c => c >= 'a' && c <= 'z') && !counted(w)) {
        val used = scala.collection.mutable.Set[Int]()
        for (a <- off until (off + w.length); b <- (a + 2) until (off + w.length) by 2
             if !used(a) && !used(b) && window(a) == window(b) && chars(a) != chars(b)) {
          val t = chars(a); chars(a) = chars(b); chars(b) = t
          used += a; used += b
        }
      }
      off += w.length + 1
    }
    new String(chars)
  }

  test("pipe_prep_mm: an audio near-dup with distinct text and distinct image drops at the audio stage") {
    val docs = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
    val gatedIds = TextAnalysis.c4Filter(docs).where($"keep")
      .select("doc_id").as[Long].collect().toSet
    val maxId = docs.agg(max($"doc_id")).as[Long].head()
    val byId = docs.as[(Long, String)].collect().toMap
    def bytes(s: String) = s.getBytes("UTF-8")
    def ham(a: (Long, Long), b: (Long, Long)): Int =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    // all corpus fingerprints, locally — the search must pick a clone
    // that is an IMAGE keeper (no dHash neighbor within 3 anywhere in
    // the corpus) so the drop is attributable to the audio stage alone
    val allD = byId.map { case (id, t) => id -> Multimodal.localDHash(bytes(t)) }
    val pick = gatedIds.toSeq.sorted.iterator.map { id =>
      val t = byId(id)
      val clone = audioPreservingScramble(t)
      (id, t, clone)
    }.find { case (_, t, clone) =>
      clone != t &&
        ham(Multimodal.localAHash(bytes(t)), Multimodal.localAHash(bytes(clone))) == 0 &&
        allD.values.forall(d => ham(d, Multimodal.localDHash(bytes(clone))) > 3)
    }
    assert(pick.isDefined, "corpus must contain a scramblable gated doc " +
      "whose scramble is audio-exact and image-novel")
    val (srcId, srcText, mutated) = pick.get
    // the construction's own laws, pinned before the pipeline runs
    assert(mutated.length == srcText.length && mutated != srcText)
    assert(Multimodal.localAHash(bytes(mutated)) == Multimodal.localAHash(bytes(srcText)),
      "the scramble must preserve the audio fingerprint EXACTLY")
    val cloneId = maxId + 1
    val corpus = docs.unionByName(Seq((cloneId, mutated)).toDF("doc_id", "text"))
    // gate invariance: the clone reaches stage 2 with the same verdict
    assert(TextAnalysis.c4Filter(corpus)
      .where($"keep" && $"doc_id" === cloneId).count() == 1)
    val mm = PrepPipeline.manifestMmOf(spark, corpus)
      .select("doc_id").as[Long].collect().toSet
    val base = PrepPipeline.manifestOf(corpus)
      .select("doc_id").as[Long].collect().toSet
    assert(base(cloneId), "text-only pipeline keeps the clone (distinct digest)")
    // attribution: the clone IS an image-cluster keeper but NOT an
    // audio-cluster keeper — only the audio stage can have dropped it
    val kept = corpus.join(TextAnalysis.c4Filter(corpus).where($"keep")
      .select("doc_id"), "doc_id")
    val imgKeepers = Dedup.dupClusters(kept,
        Dedup.hash64Pairs(Multimodal.dHash(spark, kept)).select("doc_a", "doc_b"))
      .where($"doc_id" === $"keeper").select("doc_id").as[Long].collect().toSet
    assert(imgKeepers(cloneId), "the clone must survive the image stage")
    assert(!mm(cloneId), "the audio stage must drop the clone (exact audio dup, higher id)")
    assert(mm(srcId) == base(srcId), "the canonical member's fate is unchanged")
  }
}
