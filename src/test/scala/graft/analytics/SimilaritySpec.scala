package graft.analytics

import graft.SparkSpec

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  /** The same fold order and HALF_UP-at-4 rounding as `round(cosine_sim(a, b), 4)`. */
  private def cos4(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  test("native cosine_sim expression: bit-equal to the composed fold, SQL-callable, null on length mismatch") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(5)
    val df = (1 to 200).map { _ =>
      (Seq.fill(64)(rnd.nextGaussian()), Seq.fill(64)(rnd.nextGaussian()))
    }.toDF("a", "b")
    val both = df.select(
      Similarity.cosine(col("a"), col("b")).as("native"),
      Similarity.cosineComposed(col("a"), col("b")).as("composed"))
      .as[(Double, Double)].collect()
    both.foreach { case (n, c) =>
      assert(java.lang.Double.doubleToLongBits(n) == java.lang.Double.doubleToLongBits(c),
        s"native $n != composed $c (not bit-equal)")
    }
    // function registry: usable from SQL
    val viaSql = spark.sql(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(0.6d, 0.8d))").as[Double].head()
    assert(math.abs(viaSql - 0.6) < 1e-15)
    // mismatched lengths -> NULL, not an exception
    val nulls = spark.sql(
      "SELECT cosine_sim(array(1.0d), array(1.0d, 2.0d))").collect()
    assert(nulls.head.isNullAt(0))
  }

  test("native hyperplane_sig: equal to the composed per-plane dot products; null on dim mismatch") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(9)
    val df = (1 to 100).map(_ => Tuple1(Seq.fill(16)(rnd.nextGaussian()))).toDF("e")
    val (dims, bands, rowsPerBand) = (16, 4, 3)
    val native = df.select(call_function("hyperplane_sig",
      col("e"), lit(dims), lit(bands), lit(rowsPerBand)).as("sig"))
      .as[Seq[Int]].collect()
    // composed reference: per-plane interpreted dot products
    val composed = df.select(array((0 until bands).map { b =>
      (0 until rowsPerBand).map { r =>
        val p = b * rowsPerBand + r
        val plane = array((0 until dims).map(d =>
          lit(graft.functions.HyperplaneSig.planeComponent(p, d))): _*)
        when(Similarity.dot(col("e"), plane) > 0, lit(1 << r)).otherwise(lit(0))
      }.reduce(_ + _)
    }: _*).as("sig")).as[Seq[Int]].collect()
    assert(native.toSeq == composed.toSeq)
    val nulls = spark.sql("SELECT hyperplane_sig(array(1.0d, 2.0d), 3, 2, 2)").collect()
    assert(nulls.head.isNullAt(0), "dim mismatch must be NULL, not garbage buckets")
  }

  test("exact knn: k neighbors per query, self excluded, cosine in [-1,1] descending") {
    val got = Similarity.knnExact(spark, sfDir, nQueries = 5, k = 5)
      .select("q_id", "n_id", "rank", "cos").as[(Long, Long, Long, Double)].collect()
    val byQ = got.groupBy(_._1)
    assert(byQ.size == 5)
    byQ.foreach { case (q, rows) =>
      assert(rows.length == 5)
      assert(rows.forall(r => r._2 != q))
      assert(rows.forall(r => r._4 >= -1.0001 && r._4 <= 1.0001))
      val sorted = rows.sortBy(_._3)
      assert(sorted.map(_._4).toSeq == sorted.map(_._4).sortBy(-_).toSeq)
    }
  }

  test("embedding near-dup: LSH pairs are a subset of exact pairs with usable recall") {
    val exact = Similarity.embeddingDupExact(spark, sfDir, threshold = 0.3)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val lsh = Similarity.embeddingDupLsh(spark, sfDir, threshold = 0.3)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), "LSH verification must make precision exact")
    assert(exact.nonEmpty)
    val recall = (exact intersect lsh).size.toDouble / exact.size
    info(f"near-dup LSH recall = $recall%.3f (${exact.size} exact pairs)")
    assert(recall >= 0.5, f"near-dup recall collapsed: $recall%.3f")
  }

  test("semantic contamination: every LSH leak is in the exhaustive cross-fold sweep") {
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val fold = Sampling.split(emb.keys.toSeq.toDF("vec_id"), col("vec_id"))
      .as[(Long, String)].collect().toMap
    val exact = (for {
      (t, tv) <- emb if fold(t) == "train"
      (e, ev) <- emb if fold(e) != "train"
      c = cos4(tv, ev) if c >= 0.4
    } yield (t, e, fold(e), c)).toSet
    assert(exact.nonEmpty, "corpus must contain at least one cross-fold leak")
    val lsh = Similarity.semanticContamination(spark, sfDir)
      .as[(Long, Long, String, Double)].collect().toSet
    assert(lsh.subsetOf(exact), s"not in the exact sweep: ${(lsh -- exact).take(3)}")
  }

  test("embedding clusters: pair endpoints share a keeper, keepers are component minima") {
    val pairs = Similarity.embeddingDupLsh(spark, sfDir)
      .select("vec_a", "vec_b").as[(Long, Long)].collect()
    val keeper = Similarity.embeddingClustersQuery(spark, sfDir)
      .as[(Long, Long)].collect().toMap
    // every near-dup pair must resolve into the same cluster
    pairs.foreach { case (a, b) =>
      assert(keeper(a) == keeper(b), s"pair ($a,$b) split across clusters")
    }
    // a keeper is a member of its own cluster and is its minimum id
    keeper.values.toSet.foreach { (k: Long) => assert(keeper(k) == k) }
    keeper.foreach { case (v, k) => assert(k <= v) }
    // vectors touched by no pair keep themselves
    val touched = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    keeper.filterNot(kv => touched(kv._1)).foreach { case (v, k) => assert(k == v) }
  }

  test("IVF ANN recall@5 vs exact is usable; probing more lists never hurts recall") {
    val exact = Similarity.knnExact(spark, sfDir, nQueries = 10, k = 5)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val ivf4 = Similarity.annIvfCosine(spark, sfDir, nQueries = 10, k = 5, nProbe = 4)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val ivfAll = Similarity.annIvfCosine(spark, sfDir, nQueries = 10, k = 5, nProbe = 16)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall4 = (exact intersect ivf4).size.toDouble / exact.size
    val recallAll = (exact intersect ivfAll).size.toDouble / exact.size
    info(f"IVF recall@5 nProbe=4: $recall4%.3f, nProbe=16: $recallAll%.3f")
    assert(recall4 >= 0.3, f"IVF recall collapsed: $recall4%.3f")
    assert(recallAll == 1.0, "probing every list must reproduce exact top-k")
    assert(recallAll >= recall4, "more probes must never lose recall")
  }

  test("ANN recall@5 vs exact is usable and ANN never returns false positives by construction") {
    val exact = Similarity.knnExact(spark, sfDir, nQueries = 10, k = 5)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val ann = Similarity.annLshCosine(spark, sfDir, nQueries = 10, k = 5)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect ann).size.toDouble / exact.size
    info(f"ANN recall@5 = $recall%.3f (${ann.size} returned)")
    assert(recall >= 0.5, f"ANN recall collapsed: $recall%.3f")
  }

  test("SQ8 quantization: bounded reconstruction error and high knn recall vs exact") {
    import org.apache.spark.sql.functions._
    // per-dim reconstruction error <= half a quantization step, (mx-mn)/510
    val err = Similarity.quantizeEmbeddings(spark, sfDir)
      .join(graft.Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e")), "vec_id")
      .select(expr("""aggregate(
          zip_with(e, transform(q, v -> mn + v * (mx - mn) / 255), (x, y) -> abs(x - y)),
          0D, (a, d) -> greatest(a, d))""").as("max_err"),
        ((col("mx") - col("mn")) / 510 + lit(1e-12)).as("bound"))
    assert(err.where(col("max_err") > col("bound")).count() == 0,
      "SQ8 reconstruction error exceeded half a quantization step")
    // compression barely disturbs the neighborhood structure on this corpus
    val exact = Similarity.knnExact(spark, sfDir, nQueries = 10, k = 5)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val quant = Similarity.knnQuantized(spark, sfDir, nQueries = 10, k = 5)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect quant).size.toDouble / exact.size
    info(f"SQ8 knn recall@5 = $recall%.3f")
    assert(recall >= 0.8, f"SQ8 recall collapsed: $recall%.3f")
  }

  test("IVF over SQ8 residents: compression costs nothing on top of IVF pruning") {
    // The composition's two claims, separated from the IVF pruning loss
    // it deliberately inherits (at nProbe=4 the recall CEILING is the
    // IVF stage itself — measured 0.58 vs exact on this corpus):
    //  (a) with every list probed there is no pruning, so the compressed
    //      index must reproduce the full-scan SQ8 baseline EXACTLY;
    //  (b) at partial probing, SQ8 residents must not recall less than
    //      exact residents (small tolerance: quantization legitimately
    //      reorders near-tied candidates either way).
    val exact = Similarity.knnExact(spark, sfDir, nQueries = 10, k = 5)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val ivfExact = Similarity.annIvfCosine(spark, sfDir, nQueries = 10, k = 5, nProbe = 4)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val ivfSq8 = Similarity.annIvfSq8(spark, sfDir, nQueries = 10, k = 5, nProbe = 4)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val rIvfExact = (exact intersect ivfExact).size.toDouble / exact.size
    val rIvfSq8 = (exact intersect ivfSq8).size.toDouble / exact.size
    info(f"IVF+SQ8 recall@5 = $rIvfSq8%.3f (exact-resident IVF $rIvfExact%.3f)")
    assert(rIvfSq8 >= rIvfExact - 0.05,
      f"SQ8 residents lost recall beyond jitter: $rIvfSq8%.3f vs exact-resident $rIvfExact%.3f")
    assert(rIvfSq8 >= 0.3, f"IVF+SQ8 recall collapsed: $rIvfSq8%.3f")
    // (a) the equality law: with every list probed there is no pruning,
    // so the result must equal a brute-force scan of the SAME serving
    // shape — exact queries against dequantized residents. (knnQuantized
    // is NOT that reference: it dequantizes the query side too.)
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val dq = Similarity.quantizeEmbeddings(spark, sfDir)
      .select(col("vec_id"), expr("transform(q, v -> mn + v * (mx - mn) / 255)").as("e"))
    val qs = graft.Tables.embeddings(spark, sfDir)
      .where(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").cast("array<double>").as("qe"))
    val bruteRef = dq.join(broadcast(qs), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(Similarity.cosine(col("qe"), col("e")), 4).as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))))
      .where(col("rank") <= 5)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val ivfAll = Similarity.annIvfSq8(spark, sfDir, nQueries = 10, k = 5, nProbe = 16)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    assert(ivfAll == bruteRef,
      "nProbe=nLists IVF+SQ8 diverged from the brute-force scan of the same serving shape")
  }

  test("IVF refinement: balance improves, recall holds, rounds=0 degenerates to the hash sample") {
    import org.apache.spark.sql.functions._
    val emb = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val seeds = Similarity.hashCentroids(emb, 16)
    val refined = Similarity.ivfLloydRefine(emb, seeds, 3)
    // refinement preserves list labels and geometry, changes positions
    assert(refined.map(_._1).toSeq == seeds.map(_._1).toSeq)
    assert(refined.exists { case (cid, ce) =>
      !java.util.Arrays.equals(ce, seeds.find(_._1 == cid).get._2) })
    // balance: every vector stays assigned, and the HOTTEST list — the
    // probe-cost bound at scale — must not grow; the spread should shrink
    val before = Similarity.listSizes(emb, seeds)
    val after = Similarity.listSizes(emb, refined)
    assert(before.values.sum == after.values.sum, "assignment must stay total")
    def spread(m: Map[Long, Long]): Double = {
      val mean = m.values.sum.toDouble / 16
      math.sqrt(m.values.map(n => (n - mean) * (n - mean)).sum / 16)
    }
    val (sB, sA) = (spread(before.withDefaultValue(0L)), spread(after.withDefaultValue(0L)))
    info(f"list sizes: max ${before.values.max} -> ${after.values.max}, " +
      f"stdev $sB%.1f -> $sA%.1f (mean ${before.values.sum / 16})")
    assert(after.values.max <= before.values.max,
      s"refinement grew the hottest list: ${before.values.max} -> ${after.values.max}")
    assert(sA <= sB, f"refinement increased list-size spread: $sB%.1f -> $sA%.1f")
    // recall at equal probing must not collapse vs the unrefined floor
    val exact = Similarity.knnExact(spark, sfDir, nQueries = 10, k = 5)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val ref = Similarity.annIvfRefined(spark, sfDir, nQueries = 10, k = 5)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect ref).size.toDouble / exact.size
    info(f"refined-IVF recall@5 = $recall%.3f")
    assert(recall >= 0.3, f"refined-IVF recall collapsed: $recall%.3f")
    // zero rounds is exactly the hash-sample index
    val r0 = Similarity.annIvfRefined(spark, sfDir, rounds = 0)
      .collect().toSeq
    val plain = Similarity.annIvfCosine(spark, sfDir)
      .orderBy("q_id", "rank").collect().toSeq
    assert(r0 == plain, "rounds=0 must reproduce knn_ann_ivf exactly")
  }

  test("IVF-PQ: ADC lookup scoring == reconstruction cosine; full probing == brute ADC") {
    import org.apache.spark.sql.functions._
    val (pm, pd, pks) = (Similarity.PqM, Similarity.PqDsub, Similarity.PqKs)
    val emb = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val cb = Similarity.pqCodebooks(emb)
    assert(cb.length == pm && cb.forall(_.length == pks) &&
      cb.forall(_.forall(_.length == pd)), s"PQ geometry: $pm x $pks x $pd")
    val pq = Similarity.annIvfPq(spark, sfDir, nQueries = 10, k = 5)
      .select("q_id", "n_id", "cos").as[(Long, Long, Double)].collect()
    assert(pq.nonEmpty && pq.groupBy(_._1).size == 10)
    // local model mirror: codes + reconstructions
    val codes = Similarity.pqCodes(emb, cb).collect()
      .map(r => r.getLong(0) -> (0 until pm).map(m => r.getInt(m + 1)).toArray).toMap
    assert(codes.values.forall(_.forall(c => c >= 0 && c < pks)), "codes must be 4-bit")
    val vecs = emb.as[(Long, Seq[Double])].collect().toMap
    def xhat(id: Long): Array[Double] =
      (0 until pm).flatMap(m => cb(m)(codes(id)(m))).toArray
    def cosFlat(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    // ADC law: the lookup-table score IS cos(q, x-hat) — identical up to
    // summation association (grouped by subspace vs flat) + the final
    // 4-digit rounding, so within 1.01e-4 of the flat reconstruction
    pq.foreach { case (q, n, cos) =>
      val ref = cosFlat(vecs(q).toArray, xhat(n))
      assert(math.abs(cos - ref) <= 1.01e-4,
        s"ADC diverged from reconstruction cosine: $cos vs $ref for ($q,$n)")
    }
    // recall vs exact at equal probing (nProbe=4, like the Flat/SQ8
    // tests): PQ at 32x compression is the lossiest rung, and this
    // corpus is the worst case for it (isotropic synthetic embeddings
    // have no manifold structure for the codebooks to exploit) — the
    // floor is deliberately modest (SQ8's is 0.8 at 4x); the exactness
    // story lives in the ADC and brute-equality laws, not this number
    val exact = Similarity.knnExact(spark, sfDir, nQueries = 10, k = 5)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect pq.map(r => (r._1, r._2)).toSet).size.toDouble / exact.size
    info(f"IVF-PQ recall@5 = $recall%.3f (32x compression)")
    assert(recall >= 0.1, f"IVF-PQ recall collapsed: $recall%.3f")
    // full probing removes IVF pruning: must equal a local brute-force
    // ADC scan replaying the same grouped sums, rounding, and tie rules
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def adc(qe: Array[Double], id: Long): Double = {
      val c = codes(id)
      var dot = 0.0; var n2 = 0.0
      (0 until pm).foreach { m =>
        var dm = 0.0; var nm = 0.0
        (0 until pd).foreach { d =>
          dm += qe(m * pd + d) * cb(m)(c(m))(d); nm += cb(m)(c(m))(d) * cb(m)(c(m))(d)
        }
        dot += dm; n2 += nm
      }
      var qn2 = 0.0
      (0 until pm).foreach { m =>
        var g = 0.0; (0 until pd).foreach(d => g += qe(m * pd + d) * qe(m * pd + d)); qn2 += g
      }
      dot / (math.sqrt(qn2) * math.sqrt(n2))
    }
    val brute = (0L until 10L).flatMap { q =>
      vecs.keys.filter(_ != q).toSeq
        .map(n => (n, r4(adc(vecs(q).toArray, n))))
        .sortBy { case (n, c) => (-c, n) }.take(5).map(t => (q, t._1))
    }.toSet
    val ivfAll = Similarity.annIvfPq(spark, sfDir, nQueries = 10, k = 5, nProbe = 16)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    assert(ivfAll == brute, "nProbe=nLists IVF-PQ diverged from the brute-force ADC scan")
  }

  test("SemDeDup: local greedy replay matches exactly; injected trio keeps its low-centroid-sim member") {
    import org.apache.spark.sql.functions._
    // synthetic corpus: 120 well-spread vectors + a trio of near-identical
    // ones (ids 200..202) that only SEMANTIC dedup can see
    val rnd = new scala.util.Random(11)
    def unit(v: Array[Double]) = { val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
    val base = (0L until 120L).map(i => i -> unit(Array.fill(16)(rnd.nextGaussian())))
    val proto = unit(Array.fill(16)(rnd.nextGaussian()))
    val trio = (200L to 202L).map { i =>
      i -> unit(proto.zipWithIndex.map { case (x, d) => x + 0.02 * rnd.nextGaussian() * (d % 3) })
    }
    val vecs = (base ++ trio).toMap
    val emb = vecs.toSeq.sortBy(_._1).map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "e")
    val tau = 0.9
    val out = Similarity.semanticDedupOf(emb, nLists = 4, tau = tau)
      .select("vec_id", "list_id", "cent_cos", "kept")
      .as[(Long, Long, Double, Boolean)].collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap

    // local replay: same rounded-argmax assignment (ties to smaller c_id),
    // same (cent_cos ASC, vec_id ASC) retention order, same triangular sweep
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val cents = Similarity.hashCentroids(emb, 4)
    val assigned = vecs.map { case (id, v) =>
      val (cid, cc) = cents.map { case (c, ce) => (c, r4(cos(v, ce))) }
        .sortBy { case (c, s) => (-s, c) }.head
      id -> (cid, cc)
    }
    val kept = scala.collection.mutable.Map[Long, Boolean]()
    assigned.groupBy(_._2._1).foreach { case (_, members) =>
      val order = members.toSeq.map { case (id, (_, cc)) => (id, cc) }
        .sortBy { case (id, cc) => (cc, id) }
      order.zipWithIndex.foreach { case ((id, _), i) =>
        kept(id) = !order.take(i).exists { case (p, _) => r4(cos(vecs(p), vecs(id))) >= tau }
      }
    }
    vecs.keys.foreach { id =>
      val (cid, cc) = assigned(id)
      assert(out(id) == ((cid, cc, kept(id))),
        s"vec $id: operator ${out(id)} != local replay ${(cid, cc, kept(id))}")
    }
    // the trio: at least two members collapse, and among trio members in
    // the SAME cluster the survivor is the (cent_cos ASC, id ASC) head —
    // the paper's keep-the-outlier policy, visible from the output alone
    val trioOut = (200L to 202L).map(i => i -> out(i)).toMap
    assert(trioOut.count(_._2._3) < 3, s"no trio member was dropped: $trioOut")
    trioOut.groupBy(_._2._1).foreach { case (_, ms) =>
      val head = ms.toSeq.map { case (id, (_, cc, _)) => (cc, id) }.min._2
      assert(ms(head)._3, s"cluster head $head of trio cluster was not kept: $ms")
    }
  }

  test("SemDeDup multi-assignment: spill-off == single; drop superset; planted straddle pair recovered") {
    import org.apache.spark.sql.functions._
    // --- laws on the real corpus (nLists=16, tau=0.4, the query's params)
    val emb = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val single = Similarity.semanticDedupOf(emb, nLists = 16, tau = 0.4)
      .select("vec_id", "list_id", "cent_cos", "kept")
      .as[(Long, Long, Double, Boolean)].collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    // eps < 0: no vector spills, decisions coincide exactly
    val off = Similarity.semanticDedupMultiOf(emb, nLists = 16, tau = 0.4, eps = -1.0)
      .select("vec_id", "list_id", "list_id2", "cent_cos", "kept").collect()
    off.foreach { r =>
      assert(r.isNullAt(2), s"eps<0 still spilled: $r")
      assert(single(r.getLong(0)) == ((r.getLong(1), r.getDouble(3), r.getBoolean(4))),
        s"eps<0 multi diverged from single on vec ${r.getLong(0)}")
    }
    // eps = 0.05: primary assignment unchanged, drop set is a superset
    val multi = Similarity.semanticDedupMultiOf(emb, nLists = 16, tau = 0.4, eps = 0.05)
      .select("vec_id", "list_id", "cent_cos", "kept")
      .as[(Long, Long, Double, Boolean)].collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    single.foreach { case (id, (l, cc, kept)) =>
      assert(multi(id)._1 == l && multi(id)._2 == cc,
        s"primary assignment changed under spill on vec $id")
      if (!kept) assert(!multi(id)._3,
        s"vec $id dropped by single-assignment but kept by multi (superset law)")
    }
    // (list_id, list_id2), replayed per vector: the two best rounded
    // cosines to the hash centroids (ties to the smaller id), and the
    // second list iff the two differ by at most eps on the 1e-4 grid
    val cents16 = Similarity.hashCentroids(emb, 16)
    val corpusVecs = emb.as[(Long, Seq[Double])].collect()
    def grid(c: Double): Long = BigDecimal(c * 1e4).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    for (eps <- Seq(0.05, -1.0)) {
      val lists = Similarity.semanticDedupMultiOf(emb, nLists = 16, tau = 0.4, eps = eps)
        .select("vec_id", "list_id", "list_id2").collect()
        .map(r => r.getLong(0) -> (r.getLong(1) +: Option(r.get(2)).map(_ => r.getLong(2)).toSeq))
        .toMap
      corpusVecs.foreach { case (id, v) =>
        val top2 = cents16.map { case (c, ce) => (cos4(v.toArray, ce), c) }
          .sortBy { case (cs, c) => (-cs, c) }.take(2)
        val gap = grid(top2(0)._1) - grid(top2(1)._1)
        val want = if (gap <= math.round(eps * 1e4)) top2.map(_._2).toSeq else Seq(top2(0)._2)
        assert(lists(id) == want, s"eps=$eps vec $id")
      }
    }

    // --- planted straddle: a near-identical pair split across two lists,
    // both inside the spill band -> invisible to single, collapsed by multi
    val rnd = new scala.util.Random(23)
    def unit(v: Array[Double]) = { val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
    val base = (0L until 100L).map(i => i -> unit(Array.fill(16)(rnd.nextGaussian())))
    val baseDf = base.map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "e")
    val cents = Similarity.hashCentroids(baseDf, 4)
    // pick extra ids that do NOT displace the hash-selected seeds: their
    // md5 keys must sort after the 4th-smallest seed key
    val keyOf = (ids: Seq[Long]) => ids.map(_.toString).toDF("s")
      .select(graft.functions.Hashes.md5Long60(col("s"))).as[Long].collect()
    val seedMax = keyOf(cents.map(_._1).toSeq).max
    val extras = (1000L until 1100L).filter { id => keyOf(Seq(id)).head > seedMax }.take(2)
    assert(extras.size == 2)
    val Array(ca, cb) = Array(cents(0)._2, cents(1)._2)
    def mix(wa: Double, wb: Double) =
      unit(ca.zip(cb).map { case (x, y) => wa * x + wb * y })
    val v1 = mix(0.51, 0.49); val v2 = mix(0.49, 0.51)
    val emb2 = (base ++ Seq(extras(0) -> v1, extras(1) -> v2))
      .map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "e")
    assert(Similarity.hashCentroids(emb2, 4).map(_._1).toSeq ==
      cents.map(_._1).toSeq, "extras displaced the centroid seeds")
    val tau = 0.9
    val s2 = Similarity.semanticDedupOf(emb2, nLists = 4, tau = tau)
      .select("vec_id", "list_id", "kept")
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val m2 = Similarity.semanticDedupMultiOf(emb2, nLists = 4, tau = tau, eps = 0.05)
      .select("vec_id", "list_id", "list_id2", "kept").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2)),
        r.getBoolean(3))).toMap
    val (p1, p2) = (extras(0), extras(1))
    assert(s2(p1)._1 != s2(p2)._1, "planted pair did not straddle two lists")
    assert(s2(p1)._2 && s2(p2)._2, "single-assignment already saw the straddled pair")
    assert(m2(p1)._2.isDefined && m2(p2)._2.isDefined, "planted pair did not spill")
    assert(m2(p1)._3 != m2(p2)._3,
      s"multi-assignment did not collapse the straddled pair: ${m2(p1)} ${m2(p2)}")
  }

  test("filtered ANN: label law, rank contiguity, full probing == exact filtered top-k") {
    import org.apache.spark.sql.functions._
    val labels = graft.Tables.embeddings(spark, sfDir)
      .select("vec_id", "label").as[(Long, Int)].collect().toMap
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .as[(Long, Seq[Double])].collect().toMap
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val res = Similarity.annIvfFiltered(spark, sfDir)
      .select("q_id", "n_id", "rank", "cos").as[(Long, Long, Long, Double)].collect()
    // law 1: every neighbor satisfies the predicate (shares the query label)
    res.foreach { case (q, n, _, _) =>
      assert(labels(n) == labels(q), s"neighbor $n of query $q violates the label filter")
    }
    // law 2: ranks are 1..m contiguous per query and cos is non-increasing
    res.groupBy(_._1).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._3)
      assert(sorted.map(_._3).toSeq == (1L to sorted.length).toSeq, s"rank gap for query $q")
      assert(sorted.map(_._4).toSeq == sorted.map(_._4).sortBy(-_).toSeq, s"cos not descending for $q")
    }
    // law 3: probing every list removes the ANN approximation — must equal
    // the brute-force filtered exact top-5 under identical tie rules
    val full = Similarity.annIvfFiltered(spark, sfDir, nProbe = 16)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val brute = (0L until 10L).flatMap { q =>
      vecs.keys.filter(n => n != q && labels(n) == labels(q)).toSeq
        .map(n => (n, r4(cos(vecs(q), vecs(n)))))
        .sortBy { case (n, c) => (-c, n) }.take(5).map(t => (q, t._1))
    }.toSet
    assert(full == brute, "nProbe=nLists filtered ANN diverged from brute-force filtered top-k")
    // recall at the serving shape (nProbe=8) vs the filtered exact set
    val recall = (res.map(r => (r._1, r._2)).toSet intersect brute).size.toDouble / brute.size
    info(f"filtered ANN recall@5 nProbe=8: $recall%.3f")
    assert(recall >= 0.5, f"filtered ANN recall collapsed: $recall%.3f")
  }

  test("pre-filtered ANN: row-identical to post-filter at every nProbe (the regimes differ only in join order)") {
    import org.apache.spark.sql.functions._
    // same centroids + same nProbe + same tie rules ⇒ the label filter
    // commutes with the list equi-join, so the two regimes must agree
    // row-for-row — at the serving nProbe, at a thin probe, and at full
    // probing (where both equal the exact filtered top-k). The choice
    // between them is purely a selectivity/IO trade, never a result
    // change — that is the property a user migrating post→pre relies on.
    for (nProbe <- Seq(2, 8, 16)) {
      val post = Similarity.annIvfFiltered(spark, sfDir, nProbe = nProbe)
        .select("q_id", "n_id", "rank", "cos")
        .as[(Long, Long, Long, Double)].collect().toSet
      val pre = Similarity.annIvfPrefiltered(spark, sfDir, nProbe = nProbe)
        .select("q_id", "n_id", "rank", "cos")
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(pre == post,
        s"pre/post-filter divergence at nProbe=$nProbe: " +
          s"only-pre=${(pre -- post).take(3)} only-post=${(post -- pre).take(3)}")
    }
    // and the pre-filtered form still satisfies the label predicate
    val labels = graft.Tables.embeddings(spark, sfDir)
      .select("vec_id", "label").as[(Long, Int)].collect().toMap
    Similarity.annIvfPrefiltered(spark, sfDir)
      .select("q_id", "n_id").as[(Long, Long)].collect()
      .foreach { case (q, n) =>
        assert(labels(n) == labels(q), s"neighbor $n of query $q violates the label partition")
      }
  }

  test("contrastive triplets: pos/hard are the IVF ranking, rand replays the salted hash") {
    val got = Similarity.contrastiveTriplets(spark, sfDir)
      .select("q_id", "role", "rank", "n_id", "cos")
      .as[(Long, String, Long, Long, Double)].collect()
    assert(got.nonEmpty)
    // pos + hard == the serving IVF ranking at depth 4, role by rank
    val ivf = Similarity.annIvfCosine(spark, sfDir, k = 4)
      .select("q_id", "rank", "n_id", "cos").as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    got.filter(_._2 != "rand").foreach { case (q, role, rk, n, c) =>
      assert(role == (if (rk == 1) "pos" else "hard"))
      assert(ivf((q, rk)) == ((n, c)), s"($q,$rk): ($n,$c) != ${ivf((q, rk))}")
    }
    // rand picks replay the salted md5 mod corpus-size exactly, and never
    // collide with the query or its positive
    val n = graft.Tables.embeddings(spark, sfDir).count()
    def md5Pick(q: Long, i: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"ng:$q:$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.substring(0, 15), 16) % n
    }
    val posOf = got.filter(_._2 == "pos").map(r => r._1 -> r._4).toMap
    val randRows = got.filter(_._2 == "rand")
    assert(randRows.nonEmpty)
    randRows.foreach { case (q, _, i, nid, c) =>
      assert(nid == md5Pick(q, i), s"rand pick ($q,$i): $nid != ${md5Pick(q, i)}")
      assert(nid != q && nid != posOf(q))
      assert(c >= -1.0 && c <= 1.0)
    }
    // dropped-not-resampled: every surviving (q, i) is the hash pick; any
    // missing (q, i) must be a self/positive collision
    val have = randRows.map(r => (r._1, r._3)).toSet
    for (q <- got.map(_._1).distinct; i <- 1L to 3L if !have((q, i)))
      assert(md5Pick(q, i) == q || md5Pick(q, i) == posOf(q),
        s"rand ($q,$i) missing without a collision")
  }

  test("projected IVF: final scores are exact full-dim cosines; rank contiguous per query") {
    import org.apache.spark.sql.functions.col
    val got = Similarity.annIvfProjected(spark, sfDir)
      .select("q_id", "n_id", "rank", "cos").as[(Long, Long, Long, Double)].collect()
    assert(got.nonEmpty)
    // the coarse stage is projected, but every returned score must be the
    // EXACT full-dimension rounded cosine — re-rank quality is not traded
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .as[(Long, Seq[Double])].collect().toMap
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    got.foreach { case (q, n, _, c) =>
      assert(c == r4(cos(vecs(q), vecs(n))), s"($q,$n): $c is not the exact full-dim cosine")
    }
    got.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._3).sorted.toSeq == (1L to rs.length).toSeq, s"query $q ranks not contiguous")
    }
  }

  test("range search: tau law, superset of the thresholded top-k, no window in the result") {
    import org.apache.spark.sql.functions.col
    val tau = 0.25
    val got = Similarity.annIvfRange(spark, sfDir, tau = tau)
      .select("q_id", "n_id", "cos").as[(Long, Long, Double)].collect()
    assert(got.nonEmpty, "tau=0.25 must return rows on the test corpus")
    got.foreach { case (q, n, c) =>
      assert(c >= tau, s"pair ($q,$n) cos $c below tau")
      assert(q != n)
    }
    assert(got.map(p => (p._1, p._2)).distinct.length == got.length, "pairs must be distinct")
    // every IVF top-k hit above tau is also in the radius result (same
    // index, same probes => candidate sets identical; range only filters)
    val topk = Similarity.annIvfCosine(spark, sfDir)
      .where(col("cos") >= tau)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val pairs = got.map(p => (p._1, p._2)).toSet
    assert(topk.subsetOf(pairs),
      s"missing thresholded top-k pairs: ${topk.diff(pairs)}")
  }

  test("signed random projection: bit-exact local replay, repartition-proof, JL-correlated") {
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val got = Similarity.projectSigned(emb)
      .select("vec_id", "dim", "p").as[(Long, Long, Long)].collect()
    val raw = emb.select("vec_id", "e").as[(Long, Seq[Double])].collect().toMap
    assert(got.length == raw.size * 16)
    // local replay: HALF_UP 1e-6 quantization + driver-side sign matrix
    val byKey = got.map(r => ((r._1, r._2), r._3)).toMap
    raw.take(20).foreach { case (id, e) =>
      val q = e.map(x => BigDecimal(x * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
      for (j <- 0 until 16) {
        val expect = q.zipWithIndex.map { case (v, i) => v * Similarity.rpSign(j, i) }.sum
        assert(byKey((id, j)) == expect, s"vec $id dim $j: ${byKey((id, j))} != $expect")
      }
    }
    val again = Similarity.projectSigned(emb.repartition(9))
      .select("vec_id", "dim", "p").as[(Long, Long, Long)].collect()
    assert(got.sorted.toSeq == again.sorted.toSeq, "projection must be partitioning-exact")
    // JL law: projected inner products correlate with original ones. At
    // outDims=16 the estimator's per-pair relative noise is ~1/√16, so
    // the correlation over a 400-pair sample sits near 0.5 (measured
    // 0.497 on this corpus); 0.35 is the regression floor, not the mean.
    val ids = raw.keys.toSeq.sorted.take(40)
    val proj = ids.map(id => id -> (0 until 16).map(j => byKey((id, j)).toDouble)).toMap
    val pairsSample = for (a <- ids.take(20); b <- ids.drop(20)) yield {
      val dOrig = raw(a).zip(raw(b)).map { case (x, y) => x * y }.sum
      val dProj = proj(a).zip(proj(b)).map { case (x, y) => x * y }.sum / 16.0 / 1e12
      (dOrig, dProj)
    }
    val n = pairsSample.length.toDouble
    val (mx, my) = (pairsSample.map(_._1).sum / n, pairsSample.map(_._2).sum / n)
    val cov = pairsSample.map { case (x, y) => (x - mx) * (y - my) }.sum
    val sx = math.sqrt(pairsSample.map(p => (p._1 - mx) * (p._1 - mx)).sum)
    val sy = math.sqrt(pairsSample.map(p => (p._2 - my) * (p._2 - my)).sum)
    val r = cov / (sx * sy)
    assert(r > 0.35, s"projected inner products decorrelated from originals: r=$r")
  }

  test("OPQ: gate engages on a planted anisotropic corpus, allocation spreads the signal, recall beats natural PQ") {
    import spark.implicits._
    // plant: natural subspace 0 (dims 0-3) carries ALL the signal, the
    // other 60 dims are 5%-amplitude noise — the worst case for natural
    // contiguous allocation (16 codewords must cover a rich 4-D signal
    // while 15 subspaces quantize noise) and exactly the case OPQ-P's
    // allocation exists for (one signal dim per subspace ⇒ each is an
    // effectively-1-D quantization problem at 16 levels)
    val rnd = new scala.util.Random(42)
    val rows = (0L until 400L).map { i =>
      val e = Array.tabulate(64) { j =>
        val u = rnd.nextDouble() * 2 - 1
        if (j < 4) u else u * 0.05
      }
      (i, e.toSeq)
    }
    val emb = rows.toDF("vec_id", "e")
    val perm = Similarity.opqPermutation(emb)
    assert(!perm.zipWithIndex.forall { case (d, i) => d == i },
      "the 15% imbalance gate must engage on this corpus")
    assert(perm.toSet == (0 until 64).toSet, "rotation is a permutation")
    // the four signal dims land in four DIFFERENT subspaces (slot/dsub)
    val sigSubs = (0 until 4).map(j => perm.indexOf(j) / 4)
    assert(sigSubs.distinct.size == 4,
      s"balanced allocation must spread the signal dims: $sigSubs")
    // exact local ground truth (same 4-dp rounding + id tie order as the
    // engine's ranking), then recall@5 over the 10 query ids
    val raw = rows.toMap.map { case (id, e) => id -> e.toArray }
    def cos4(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum); val nb = math.sqrt(b.map(x => x * x).sum)
      BigDecimal(d / (na * nb)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val exact = (0L until 10L).flatMap { q =>
      raw.keys.filter(_ != q).toSeq
        .map(n => (n, cos4(raw(q), raw(n))))
        .sortBy { case (n, c) => (-c, n) }.take(5).map { case (n, _) => (q, n) }
    }.toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("q_id", "n_id").as[(Long, Long)].collect().toSet
      (exact intersect got).size.toDouble / exact.size
    }
    val pqR = recallOf(Similarity.annIvfPqOver(spark, emb, 10, 5, 16, 4))
    val opqR = recallOf(Similarity.annIvfPqOver(spark,
      Similarity.withOpqPerm(emb, perm), 10, 5, 16, 4))
    assert(opqR > pqR,
      s"balanced allocation must beat natural PQ on the anisotropic plant: opq=$opqR pq=$pqR")
  }

  test("PCA-OPQ cascade: natural gate refuses on an OBLIQUE anisotropic corpus, " +
      "the rotated gate engages, recall beats PQ and natural OPQ (r17 #5)") {
    import spark.implicits._
    // plant: TWO strong oblique directions, u = 1/8·(1,…,1) and the
    // alternating v = 1/8·(1,−1,1,−1,…) at 0.7 amplitude. Every natural
    // dim carries the same 1/64 slice of each, so the per-dim variance
    // profile is FLAT — the natural 15% gate must refuse (and with it
    // plain OPQ degenerates to PQ) — but every natural subspace sees
    // BOTH directions ((1,1,1,1) and (1,−1,1,−1) restricted to it are
    // orthogonal), so its 16 codewords split into a ~4×4 grid over a
    // genuinely 2-D signal: the off-axis case no natural-dim
    // permutation can fix. The Householder reflection from the
    // integer-grid top PC axis-aligns u (the all-ones power seed has
    // cos 1 with u and cos 0 with v, and λ₂/λ₁ = 0.49 gives 12 rounds
    // ~2e-4 residual); in the rotated basis dim 1 carries the whole
    // g-signal (16 codeword levels instead of ~4), v stays spread with
    // ~one strong slice per subspace (16 levels each), the rotated gate
    // engages, and the reconstruction error drops ~4× — the recall win.
    val rnd = new scala.util.Random(7)
    val rows = (0L until 400L).map { i =>
      val g = rnd.nextDouble() * 2 - 1 // coefficient along u
      val h = rnd.nextDouble() * 2 - 1 // coefficient along v
      val e = Array.tabulate(64) { j =>
        g / 8.0 + (if (j % 2 == 0) 0.7 else -0.7) * h / 8.0 +
          (rnd.nextDouble() * 2 - 1) * 0.05
      }
      (i, e.toSeq)
    }
    val emb = rows.toDF("vec_id", "e")
    // stage-1 verdict: the natural gate must refuse (flat profile)
    assert(Similarity.opqPermutationEngaged(emb).isEmpty,
      "the natural-axis gate must refuse on the oblique plant")
    // stage-2 verdict: the rotated gate must engage
    val (w, den) = Similarity.householderFit(emb)
    assert(den > 0L)
    val rot = Similarity.householderView(emb, w, den)
    val permRot = Similarity.opqPermutationEngaged(rot)
    assert(permRot.isDefined,
      "the rotated-basis gate must engage once the signal is axis-aligned")
    // the rotation really axis-aligned the signal: the g-variance
    // (var ≈ 1/3) concentrates in rotated dim 1, ≥20× any other dim
    // (this is the assertion that caught the r18 unit-norm-shortcut
    // bug, where w = v + sign·e₁ on a NON-unit v reflected to the
    // wrong axis and dim 1 came back at only ~7× the rest)
    val rotVars = {
      import org.apache.spark.sql.functions.{element_at, variance => varF}
      (0 until 64).map(j =>
        rot.agg(varF(element_at(org.apache.spark.sql.functions.col("e"), j + 1)))
          .head().getDouble(0))
    }
    assert(rotVars.head > 0.25 && rotVars.head > 20 * rotVars.tail.max,
      s"rotated dim-1 must carry the oblique signal: d1=${rotVars.head}, " +
        s"max rest=${rotVars.tail.max}")
    // exact ground truth in the RAW space (the same 4-dp + id tie order
    // as every rung's ranking)
    val raw = rows.toMap.map { case (id, e) => id -> e.toArray }
    def cos4(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum); val nb = math.sqrt(b.map(x => x * x).sum)
      BigDecimal(d / (na * nb)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val exact = (0L until 10L).flatMap { q =>
      raw.keys.filter(_ != q).toSeq
        .map(n => (n, cos4(raw(q), raw(n))))
        .sortBy { case (n, c) => (-c, n) }.take(5).map { case (n, _) => (q, n) }
    }.toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("q_id", "n_id").as[(Long, Long)].collect().toSet
      (exact intersect got).size.toDouble / exact.size
    }
    val pqR = recallOf(Similarity.annIvfPqOver(spark, emb, 10, 5, 16, 4))
    // natural OPQ on this corpus IS PQ (gate refused ⇒ identity view)
    val pcaR = recallOf(Similarity.annIvfPqOver(spark,
      Similarity.opqPcaView(emb), 10, 5, 16, 4))
    assert(pcaR > pqR,
      s"the PCA-basis allocation must beat PQ (== gated-off OPQ) on the oblique plant: " +
        s"pca=$pcaR pq=$pqR")
  }
}
