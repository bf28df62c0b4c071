package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Empirical scale probe for the global-rank family — the round-6 claim
  * that the bucketed exact-rank quartiles survive a customer dimension
  * the single-window form serializes on, demonstrated on SYNTHETIC data
  * orders of magnitude past the driver's sf0.1 (~1.5k customers):
  *
  *   sbt 'runMain graft.ScaleProbe [nCustomers]'     (default 10,000,000)
  *
  * Generates an already-aggregated (o_custkey, total_spend) frame with
  * `spark.range` (deterministic md5-derived spend, unique ordering key),
  * runs BOTH forms through the noop sink, prints one JSON line with
  * wall times, and cross-checks the results with an order-insensitive
  * aggregate fingerprint (sum over custkey·quartile plus the rank
  * moments — any rank divergence on any row disturbs it). The windowed
  * arm is the known scale-killer: every row through ONE partition; at
  * the default size it still completes on local[32], but the gap (and
  * the single 10M-row sort partition in its plan) is the evidence.
  */
object ScaleProbe {

  // exact-integer moments: the per-row ranks are 6-dp-rounded, so x1e6
  // they are integral — a LONG sum is order-insensitive where a double
  // sum would pick up plan-dependent ulp noise
  private def fingerprint(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(
      sum(col("o_custkey") * col("quartile")).cast("long"),
      sum(round(col("pct_rank") * 1e6, 0).cast("long")),
      sum(round(col("cume") * 1e6, 0).cast("long"))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def run(df: DataFrame): Double =
    timed(df.write.format("noop").mode("overwrite").save())._2

  private def probeQuartiles(spark: org.apache.spark.sql.SparkSession, n: Long): Boolean = {
    import graft.analytics.Relational
    // deterministic synthetic spend: unique custkey, md5-derived 2-decimal
    // spend values (ties ARE present — md5 mod 1e6 collides across 10M
    // rows — exercising the tie-stable bucketing)
    val spend = spark.range(n).select(
      col("id").as("o_custkey"),
      (graft.functions.Hashes.md5Long60(col("id").cast("string")) % 1000000L)
        .cast("double").divide(100.0).as("total_spend"))
    // bucketed first (warming both arms equally is impossible in one JVM
    // order; bucketed-first UNDER-warms the arm we advocate, so the gap
    // it reports is conservative)
    val tBucketed = run(Relational.quartilesBucketed(spend, buckets = 64))
    spark.sharedState.cacheManager.clearCache()
    val tWindowed = run(Relational.quartilesWindowed(spend))
    val (fpB, _) = timed(fingerprint(Relational.quartilesBucketed(spend, 64)))
    spark.sharedState.cacheManager.clearCache()
    val (fpW, _) = timed(fingerprint(Relational.quartilesWindowed(spend)))
    val agree = fpB == fpW
    println(s"""{"probe":"quartiles","n":$n,"bucketed_sec":${f"$tBucketed%.1f"},""" +
      s""""windowed_sec":${f"$tWindowed%.1f"},"fingerprints_agree":$agree}""")
    if (!agree) System.err.println(s"[scaleprobe] MISMATCH bucketed=$fpB windowed=$fpW")
    agree
  }

  /** Native as-of merge join vs the composed union+window form at
    * synthetic tick volume: `n` left ticks against n/2 right quotes over
    * a realistic key cardinality (~1000 ticks per key — instrument/user
    * keys number in the thousands-to-millions in any real as-of
    * workload), epoch-micro long times, rval tiebreak pinning equal-time
    * determinism on both arms (md5 times DO collide at these volumes).
    * The structural claim under test: no union materialization, no
    * whole-partition window carry — one sorted merge per key group. */
  private def probeAsOf(spark: org.apache.spark.sql.SparkSession, n: Long): Boolean = {
    import graft.operators.AlignJoin
    import graft.plans.AsOfNative
    val tickers = math.max(8L, n / 1000L)
    // realistic ROW WIDTH on both sides (a tick/quote carries more than
    // one value column): the composed form's union shuffles every row at
    // the COMBINED width (left columns null-padded onto right rows and
    // vice versa), which is its dominating cost at scale; the native
    // merge shuffles each side at its own width
    def frame(rows: Long, valName: String, pads: Int): DataFrame = {
      val base = spark.range(rows).select(
        concat(lit("T"), (col("id") % tickers).cast("string")).as("ticker"),
        (graft.functions.Hashes.md5Long60(col("id").cast("string")) % 1000000000000L).as("t"),
        col("id").as(valName))
      (1 to pads).foldLeft(base)((df, i) => df.withColumn(s"${valName}_p$i", col(valName) + i))
    }
    val left = frame(n, "lval", pads = 6)
    val right = frame(n / 2, "rval", pads = 3).withColumnRenamed("t", "rt")
    val carry = Seq("rval", "rval_p1", "rval_p2", "rval_p3")
    def composed = AlignJoin.asOfJoin(left, right, Seq("ticker"), "t", "rt",
      carry, rightTiebreak = Seq("rval"))
    def native = AsOfNative.asOfJoin(left, right, Seq("ticker"), "t", "rt",
      carry, rightTiebreak = Seq("rval"))
    def fp(df: DataFrame): (Long, Long, Long) = {
      val r = df.agg(count(lit(1)), count(col("asof_rval")),
        sum(coalesce(col("asof_rval"), lit(-1L))).cast("long")).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val tNative = run(native)
    val tComposed = run(composed)
    val (fpN, _) = timed(fp(native))
    val (fpC, _) = timed(fp(composed))
    val agree = fpN == fpC
    println(s"""{"probe":"asof","n":$n,"native_sec":${f"$tNative%.1f"},""" +
      s""""composed_sec":${f"$tComposed%.1f"},"fingerprints_agree":$agree}""")
    if (!agree) System.err.println(s"[scaleprobe] MISMATCH native=$fpN composed=$fpC")
    agree
  }

  /** Cluster-resolution probe: `dupClusters` past the 2^20-edge driver
    * fast path — the round-7 arm evidencing the distributed path-halving
    * rounds the way the other arms evidenced the bucketed quartiles and
    * the native as-of merge. Deterministic synthetic graph over `n`
    * nodes: ids < 65536 form ONE chain (diameter 65535 — ~11 halving
    * rounds at triple-jump coverage, the log-diameter claim under test),
    * the rest form 16-node chain blocks (~15n/16 edges of realistic
    * near-dup clusters). Both arms run the SAME operator; only
    * `localEdgeLimit` differs (MaxValue forces the driver union-find
    * oracle, 0 forces the distributed rounds). Parity via a bounded
    * integer fingerprint: any keeper divergence on any node disturbs the
    * mod-sum with near-certainty, and keeper counts/extremes pin the
    * cluster structure. */
  private def probeClusters(spark: org.apache.spark.sql.SparkSession, n: Long): Boolean = {
    import graft.analytics.Dedup
    val longChain = 65536L
    require(n > longChain, s"clusters probe needs n > $longChain")
    val docs = spark.range(n).select(col("id").as("doc_id"))
    def pairs = spark.range(n - 1)
      .where((col("id") % 16 =!= 15) || (col("id") < longChain - 1))
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    val nPairs = pairs.count()
    def fp(df: org.apache.spark.sql.DataFrame): (Long, Long, Long, Long) = {
      val r = df.agg(
        count(lit(1)),
        // per-row value < 1e6 so the 10M-row sum stays far inside a long
        sum((col("doc_id") * 31 + col("keeper")) % 1000003L),
        count_distinct(col("keeper")),
        sum(col("keeper") % 1000003L)).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    // time CONSTRUCTION + execution together: unlike the other arms,
    // dupClusters runs its work (collect+union-find, or the iterative
    // rounds) EAGERLY while building the result frame — timing only the
    // final noop write would credit the distributed arm with ~nothing
    def buildAndRun(mk: => org.apache.spark.sql.DataFrame): Double =
      timed(mk.write.format("noop").mode("overwrite").save())._2
    // distributed rounds first: the union-find arm is the ORACLE here, so
    // under-warming the advocated arm keeps the reported gap conservative
    val tDist = buildAndRun(Dedup.dupClusters(docs, pairs, localEdgeLimit = 0L))
    spark.sharedState.cacheManager.clearCache()
    val tLocal = buildAndRun(Dedup.dupClusters(docs, pairs, localEdgeLimit = Long.MaxValue))
    spark.sharedState.cacheManager.clearCache()
    val (fpD, _) = timed(fp(Dedup.dupClusters(docs, pairs, localEdgeLimit = 0L)))
    spark.sharedState.cacheManager.clearCache()
    val (fpL, _) = timed(fp(Dedup.dupClusters(docs, pairs, localEdgeLimit = Long.MaxValue)))
    val agree = fpD == fpL
    println(s"""{"probe":"clusters","n":$n,"pairs":$nPairs,""" +
      s""""distributed_sec":${f"$tDist%.1f"},"local_sec":${f"$tLocal%.1f"},""" +
      s""""fingerprints_agree":$agree}""")
    if (!agree) System.err.println(s"[scaleprobe] MISMATCH distributed=$fpD local=$fpL")
    agree
  }

  /** IVF refinement probe (round-8 arm): deterministic synthetic corpus
    * of `n` 64-dim vectors planted on 32 cluster directions with u²-law
    * (power-ish) cluster mass plus quarter-amplitude noise — the shape a
    * real embedding corpus has and a hash-sampled centroid seed
    * inherits. Measures, before and after
    * [[graft.analytics.Similarity.ivfLloydRefine]]'s 3 fixed-point
    * rounds: list-size max and stdev (probe cost at scale is the hottest
    * probed list) and the MEAN ASSIGNED COSINE — the quantization-
    * distortion proxy k-means actually optimizes.
    *
    * ok gates on what refinement GUARANTEES: assignment stays total and
    * mean assigned cosine does not degrade. Skew is reported, not
    * gated: on mass this skewed, seeds inside one heavy planted cluster
    * converge to near-identical directions, the 4-dp-rounded assignment
    * cosine then TIES between them, and the min-c_id tie-break
    * concentrates the whole cluster on one list — so refinement can
    * legitimately worsen raw skew while improving distortion (measured
    * at n=1M; at the oracled queries' nLists=16 on the real corpus,
    * centroids stay separated and balance improves — SimilaritySpec).
    * True balance under converged centroids needs a balanced-k-means
    * assignment (a size-penalized objective), a documented future
    * rung — this probe is the measurement that motivates it. */
  private def probeIvfBalance(spark: org.apache.spark.sql.SparkSession, n: Long): Boolean = {
    import graft.analytics.Similarity
    val clusters = 32
    val nLists = 64
    val u = (graft.functions.Hashes.md5Long60(col("id").cast("string")) % 1000000L)
      .cast("double") / 1e6
    val emb = spark.range(n)
      .select(col("id").as("vec_id"), floor(u * u * clusters).cast("int").as("c"))
      .select(col("vec_id"), expr(
        """transform(sequence(0, 63), d ->
          |  ((cast(conv(substring(md5(concat('c:', cast(c as string), ':', cast(d as string))), 1, 15), 16, 10) as long) % 2001) - 1000) / 1000.0D
          |  + ((cast(conv(substring(md5(concat('n:', cast(vec_id as string), ':', cast(d as string))), 1, 15), 16, 10) as long) % 2001) - 1000) / 4000.0D)""".stripMargin)
        .as("e"))
    emb.cache().count() // 3 refinement scans + 4 diagnostic scans read it
    // mean over the corpus of the best (rounded) cosine to any centroid —
    // higher = less quantization distortion at assignment time
    def meanAssignedCos(cents: Array[(Long, Array[Double])]): Double =
      emb.join(broadcast(Similarity.centroidFrame(spark, cents)), lit(true))
        .groupBy("vec_id")
        .agg(max(round(Similarity.cosine(col("e"), col("ce")), 4)).as("c"))
        .agg(avg("c")).head().getDouble(0)
    val seeds = Similarity.hashCentroids(emb, nLists)
    val (refined, tRefine) = timed(Similarity.ivfLloydRefine(emb, seeds, 3))
    val before = Similarity.listSizes(emb, seeds).withDefaultValue(0L)
    val after = Similarity.listSizes(emb, refined).withDefaultValue(0L)
    val (cosB, cosA) = (meanAssignedCos(seeds), meanAssignedCos(refined))
    emb.unpersist()
    def stdev(m: Map[Long, Long]): Double = {
      val sizes = (0 until nLists).map(i => m(seeds(i)._1))
      val mean = sizes.sum.toDouble / nLists
      math.sqrt(sizes.map(s => (s - mean) * (s - mean)).sum / nLists)
    }
    val ok = before.values.sum == n && after.values.sum == n && cosA >= cosB - 1e-6
    println(s"""{"probe":"ivfbalance","n":$n,"n_lists":$nLists,""" +
      s""""max_before":${before.values.max},"max_after":${after.values.max},""" +
      s""""stdev_before":${f"${stdev(before)}%.1f"},"stdev_after":${f"${stdev(after)}%.1f"},""" +
      s""""mean_cos_before":${f"$cosB%.4f"},"mean_cos_after":${f"$cosA%.4f"},""" +
      s""""refine_sec":${f"$tRefine%.1f"},"ok":$ok}""")
    if (!ok) System.err.println(
      s"[scaleprobe] ivfbalance NOT ok: cos $cosB->$cosA totals ${before.values.sum}/${after.values.sum}")
    ok
  }

  /** Substring-dedup density probe (round-8 arm): the stride-1 exact
    * span form shuffles EVERY k-gram position; the winnowed path selects
    * ~2/(w+1) of them with a formal guarantee. This arm measures both on
    * a synthetic `n`-doc corpus (128 chars of per-doc-unique md5 filler,
    * with every 100th doc and its successor sharing an injected 64-char
    * payload — 2% dup-carrying mass) and records wall times, the
    * stride-1 vs selected row counts (the shuffle-volume ratio), and
    * recovery: spans must flag exactly the 2·n/100 carriers, and the
    * winnowing guarantee (64 ≥ k+w-1) means every injected pair must
    * share a fingerprint. */
  private def probeSubstring(spark: org.apache.spark.sql.SparkSession, n: Long): Boolean = {
    import graft.analytics.Dedup
    require(n % 100 == 0, "substring probe wants n % 100 == 0")
    val (k, w) = (20, 8)
    val docs = spark.range(n).select(col("id").as("doc_id"), expr(
      """concat(
        |  md5(concat('f1:', cast(id as string))),
        |  md5(concat('f2:', cast(id as string))),
        |  CASE WHEN id % 100 < 2
        |    THEN substring(concat(md5(concat('p:', cast(id div 100 as string))),
        |                          md5(concat('q:', cast(id div 100 as string)))), 1, 64)
        |    ELSE substring(concat(md5(concat('u:', cast(id as string))),
        |                          md5(concat('v:', cast(id as string)))), 1, 64) END)""".stripMargin)
      .as("text"))
    val expectedPairs = n / 100
    val gramRows = n * (128 + 64 - k + 1)
    // winnow (the advocated arm) first — under-warmed, so the reported
    // gap is conservative (same convention as the other arms)
    val tWinnow = run(Dedup.substringWinnowPairs(docs, k, w, minShared = 1))
    val winnowRows = Dedup.winnowedFingerprints(docs, k, w).count()
    val winnowFound = Dedup.substringWinnowPairs(docs, k, w, minShared = 1)
      .where(col("doc_a") % 100 === 0 && col("doc_b") === col("doc_a") + 1).count()
    spark.sharedState.cacheManager.clearCache()
    val tSpans = run(Dedup.substringSpans(docs, k))
    val spansDocs = Dedup.substringSpans(docs, k).count()
    spark.sharedState.cacheManager.clearCache()
    val ok = spansDocs == 2L * expectedPairs && winnowFound == expectedPairs
    println(s"""{"probe":"substring","n_docs":$n,"gram_rows":$gramRows,""" +
      s""""winnow_rows":$winnowRows,"density_ratio":${f"${winnowRows.toDouble / gramRows}%.3f"},""" +
      s""""spans_sec":${f"$tSpans%.1f"},"winnow_sec":${f"$tWinnow%.1f"},""" +
      s""""expected_pairs":$expectedPairs,"winnow_found":$winnowFound,""" +
      s""""spans_docs":$spansDocs,"ok":$ok}""")
    if (!ok) System.err.println(
      s"[scaleprobe] substring NOT ok: spansDocs=$spansDocs winnowFound=$winnowFound expected=$expectedPairs")
    ok
  }

  /** Semantic-dedup cost probe (round-9 arm): SemDeDup's tractability
    * claim is that the within-cluster quadratic stays bounded because k
    * grows with N — cost is N·(N/k), not N². This arm runs the SAME
    * `semanticDedupOf` operator at two k values on an `n`-vector corpus
    * (16-dim per-vector hash noise; every (100m, 100m+1) pair planted
    * near-identical — 2% semantic-dup-carrying mass) and records the
    * within-cluster pair volume (the dominance join's exact work), wall
    * time, and recovery: ≥99% of planted twins must lose a member at
    * BOTH k (a twin pair shares a cluster and one member always precedes
    * the other, so detection is guaranteed up to rounding-edge
    * assignment splits). The k2/k1 pair-volume ratio is the measured
    * 1/k scaling. */
  private def probeSemantic(spark: org.apache.spark.sql.SparkSession, n: Long): Boolean = {
    import graft.analytics.Similarity
    require(n % 100 == 0, "semantic probe wants n % 100 == 0")
    val emb = spark.range(n).select(col("id").as("vec_id"), expr(
      """transform(sequence(0, 15), d ->
        |  ((cast(conv(substring(md5(concat('n:', cast(CASE WHEN id % 100 = 1 THEN id - 1 ELSE id END as string), ':', cast(d as string))), 1, 15), 16, 10) as long) % 2001) - 1000) / 1000.0D
        |  + CASE WHEN id % 100 = 1 THEN ((cast(conv(substring(md5(concat('t:', cast(id as string), ':', cast(d as string))), 1, 15), 16, 10) as long) % 2001) - 1000) / 500000.0D ELSE 0.0D END)""".stripMargin)
      .as("e"))
    emb.cache().count()
    val planted = n / 100
    def sweep(k: Int): (Long, Long, Long, Double) = {
      val (out, t) = timed {
        val o = Similarity.semanticDedupOf(emb, k, tau = 0.95)
        o.cache().count()
        o
      }
      val dropped = out.where(!col("kept")).count()
      // recovery counts a planted group ONLY when both twins landed in
      // the same list AND one was dropped there — a planted member lost
      // to a collision with an unrelated vector (or split across lists)
      // is NOT recovery of the planted pair (ADVICE r9: the old
      // any-drop metric over-stated twin recovery)
      val recovered = out.where(col("vec_id") % 100 <= 1)
        .groupBy(expr("vec_id div 100").as("g"))
        .agg(countDistinct(col("list_id")).as("nl"),
          count(lit(1)).as("c"),
          min(col("kept").cast("int")).as("all_kept"))
        .where(col("c") === 2 && col("nl") === 1 && col("all_kept") === 0)
        .count()
      val pairVol = out.groupBy("list_id").agg(count(lit(1)).as("s"))
        .agg(sum(expr("s * (s - 1) / 2")).cast("long")).head().getLong(0)
      out.unpersist()
      (dropped, recovered, pairVol, t)
    }
    val k1 = 128
    val k2 = 512
    val (d1, r1, p1, t1) = sweep(k1)
    val (d2, r2, p2, t2) = sweep(k2)
    emb.unpersist()
    spark.sharedState.cacheManager.clearCache()
    val ok = r1 >= planted * 99 / 100 && r2 >= planted * 99 / 100 && p2 < p1
    println(s"""{"probe":"semantic","n":$n,"planted_pairs":$planted,""" +
      s""""k1":$k1,"pairs_k1":$p1,"dropped_k1":$d1,"recovered_k1":$r1,"sec_k1":${f"$t1%.1f"},""" +
      s""""k2":$k2,"pairs_k2":$p2,"dropped_k2":$d2,"recovered_k2":$r2,"sec_k2":${f"$t2%.1f"},""" +
      s""""pair_ratio":${f"${p1.toDouble / math.max(p2, 1)}%.1f"},"ok":$ok}""")
    if (!ok) System.err.println(
      s"[scaleprobe] semantic NOT ok: recovered $r1/$r2 of $planted, pairVol $p1 -> $p2")
    ok
  }

  /** Deterministic mixture-of-centers embedding corpus — the shape real
    * text embeddings have (clustered mass, not uniform hash noise): 32
    * md5-derived cluster directions, each vector = its center plus
    * per-dim noise of amplitude `noise`. All md5-deterministic, so every
    * engine and rerun sees the same corpus. `dims`=16 like the semantic
    * arm. */
  private def mixtureCorpus(spark: org.apache.spark.sql.SparkSession, n: Long,
                            noise: Double): DataFrame = {
    def md5unit(tag: String, idExpr: String) =
      s"((cast(conv(substring(md5(concat('$tag', $idExpr, ':', cast(d as string))), 1, 15), 16, 10) as long) % 2001) - 1000) / 1000.0D"
    spark.range(n).select(col("id").as("vec_id"), expr(
      s"""transform(sequence(0, 15), d ->
         |  ${md5unit("c:", "cast(cast(conv(substring(md5(concat('g:', cast(id as string))), 1, 15), 16, 10) as long) % 32 as string)")}
         |  + $noise * ${md5unit("n:", "cast(id as string)")})""".stripMargin).as("e"))
  }

  /** SemDeDup τ sweep at realistic thresholds (VERDICT r9 #3): the
    * operator ships with τ=0.4 because the driver corpus's planted mass
    * sits there, but the published SemDeDup operating range on real text
    * embeddings is 0.90–0.99 — this arm measures kept-fraction vs τ on a
    * corpus with CLUSTERED structure (mixture centers + noise sized so
    * within-cluster cosine mass spans the sweep range), plus the
    * largest-cluster quadratic cost the within-cluster sweep is bounded
    * by. Same operator, fixed k=64; only τ varies. ok = kept fraction
    * strictly increases across the sweep (a τ with no gradient would
    * mean the corpus has no structure at that scale — the probe's
    * purpose is to show the τ dial WORKS on clustered mass). */
  private def probeSemTau(spark: org.apache.spark.sql.SparkSession, n: Long): Boolean = {
    import graft.analytics.Similarity
    val emb = mixtureCorpus(spark, n, noise = 0.35)
    emb.cache().count()
    val k = 64
    val taus = Seq(0.90, 0.95, 0.99)
    val runs = taus.map { tau =>
      val (out, t) = timed {
        val o = Similarity.semanticDedupOf(emb, k, tau)
        o.cache().count()
        o
      }
      val kept = out.where(col("kept")).count()
      val sizes = out.groupBy("list_id").agg(count(lit(1)).as("s"))
        .agg(max("s").cast("long"), sum(expr("s * (s - 1) / 2")).cast("long")).head()
      out.unpersist()
      (tau, kept.toDouble / n, sizes.getLong(0), sizes.getLong(1), t)
    }
    emb.unpersist()
    spark.sharedState.cacheManager.clearCache()
    val keptFracs = runs.map(_._2)
    val ok = keptFracs == keptFracs.sorted && keptFracs.distinct.size == keptFracs.size
    val rows = runs.map { case (tau, kf, maxList, pairs, t) =>
      s"""{"tau":$tau,"kept_frac":${f"$kf%.4f"},"max_list":$maxList,"pair_vol":$pairs,"sec":${f"$t%.1f"}}"""
    }.mkString(",")
    println(s"""{"probe":"semtau","n":$n,"k":$k,"sweep":[$rows],"ok":$ok}""")
    if (!ok) System.err.println(s"[scaleprobe] semtau NOT ok: kept fractions $keptFracs not strictly increasing")
    ok
  }

  /** Cross-cluster recall for semantic dedup (VERDICT r9 #5): SemDeDup's
    * documented blind spot is a near-dup pair SPLIT ACROSS IVF lists.
    * This arm plants 1% twin pairs where the twin is perturbed TOWARD a
    * NEIGHBORING mixture center (twin = 0.85·A + 0.15·c_next — cosine
    * ≈0.98, a true semantic dup at τ=0.95, but pulled at the list
    * boundary), runs the SAME operator at k ∈ {16, 64, 256}, and reports
    * co-assignment (both twins in one list — the recall CEILING) and
    * detection (co-assigned AND a member dropped) per k. The honest
    * number a user needs to pick k: more lists = cheaper quadratic but
    * more straddled pairs. ok = within-list detection keeps the
    * operator's guarantee (≥95% of co-assigned pairs detected) and the
    * straddling loss grows with k (co-assignment at 256 < at 16). */
  private def probeSemRecall(spark: org.apache.spark.sql.SparkSession, n: Long): Boolean = {
    import graft.analytics.Similarity
    require(n % 100 == 0, "semrecall probe wants n % 100 == 0")
    def md5unit(tag: String, idExpr: String) =
      s"((cast(conv(substring(md5(concat('$tag', $idExpr, ':', cast(d as string))), 1, 15), 16, 10) as long) % 2001) - 1000) / 1000.0D"
    // base(id) = center(g(id)) + 0.1·noise(id); twin (id%100=1) =
    // 0.85·base(id-1) + 0.15·center(g(id-1)+1 mod 32) — all md5-closed-form
    val gOf = "cast(cast(conv(substring(md5(concat('g:', cast(%s as string))), 1, 15), 16, 10) as long) %% 32 as string)"
    val base = s"(${md5unit("c:", gOf.format("bid"))} + 0.1D * ${md5unit("n:", "cast(bid as string)")})"
    val nextCenter = md5unit("c:",
      "cast((cast(conv(substring(md5(concat('g:', cast(bid as string))), 1, 15), 16, 10) as long) + 1) % 32 as string)")
    val emb = spark.range(n)
      .withColumn("bid", expr("CASE WHEN id % 100 = 1 THEN id - 1 ELSE id END"))
      .select(col("id").as("vec_id"), expr(
        s"""transform(sequence(0, 15), d ->
           |  CASE WHEN id % 100 = 1 THEN 0.85D * $base + 0.15D * $nextCenter
           |       ELSE $base END)""".stripMargin).as("e"))
    emb.cache().count()
    val planted = n / 100
    val tau = 0.95
    val runs = Seq(16, 64, 256).map { k =>
      val (out, t) = timed {
        val o = Similarity.semanticDedupOf(emb, k, tau)
        o.cache().count()
        o
      }
      val tw = out.where(col("vec_id") % 100 <= 1)
        .groupBy(expr("vec_id div 100").as("g"))
        .agg(countDistinct(col("list_id")).as("nl"), count(lit(1)).as("c"),
          min(col("kept").cast("int")).as("all_kept"))
        .where(col("c") === 2)
      val coassigned = tw.where(col("nl") === 1).count()
      val detected = tw.where(col("nl") === 1 && col("all_kept") === 0).count()
      val volS = out.groupBy("list_id").agg(count(lit(1)).as("s"))
        .agg(sum(expr("s * (s - 1) / 2")).cast("long")).head().getLong(0)
      out.unpersist()
      // the multi-assignment arm (VERDICT r10 #3): same operator with the
      // spill band derived from a 35% volume budget (at k=256 a fixed
      // 0.05 band spills EVERYONE — the centroids are dense enough that
      // every second-nearest cosine is within 0.05 — and the measured
      // pair volume hit 3.6×; the budgeted band is the honest dial)
      val epsK = Similarity.spillEpsForBudget(emb, k, frac = 0.35)
      val (outM, tM) = timed {
        val o = Similarity.semanticDedupMultiOf(emb, k, tau, eps = epsK)
        o.cache().count()
        o
      }
      val axM = outM.select(col("vec_id"), col("list_id").as("al"))
        .unionByName(outM.where(col("list_id2").isNotNull)
          .select(col("vec_id"), col("list_id2").as("al")))
      val volM = axM.groupBy("al").agg(count(lit(1)).as("s"))
        .agg(sum(expr("s * (s - 1) / 2")).cast("long")).head().getLong(0)
      val spilled = outM.where(col("list_id2").isNotNull).count()
      val twAx = axM.where(col("vec_id") % 100 <= 1)
        .select(expr("vec_id div 100").as("g"), (col("vec_id") % 100).as("m"), col("al"))
      val sharedG = twAx.where(col("m") === 0).select("g", "al")
        .join(twAx.where(col("m") === 1).select("g", "al"), Seq("g", "al"))
        .select("g").distinct()
      val pairK = outM.where(col("vec_id") % 100 <= 1)
        .groupBy(expr("vec_id div 100").as("g"))
        .agg(count(lit(1)).as("c"), min(col("kept").cast("int")).as("all_kept"))
        .where(col("c") === 2)
      val coM = pairK.join(sharedG, "g").count()
      val detM = pairK.join(sharedG, "g").where(col("all_kept") === 0).count()
      outM.unpersist()
      (k, coassigned, detected, t, volS, volM, spilled, coM, detM, tM, epsK)
    }
    emb.unpersist()
    spark.sharedState.cacheManager.clearCache()
    val okDetect = runs.forall { case r => r._3 * 100 >= r._2 * 95 }
    val okStraddle = runs.last._2 < runs.head._2
    // multi-assignment contract: the spill band buys back straddled pairs
    // (strictly more reachable pairs than single wherever straddling cost
    // any) within the <=2x pair-volume budget at every k
    val okVol = runs.forall { case r => r._6 <= 2 * math.max(1L, r._5) }
    val okRecover = runs.last._9 > runs.last._3
    val ok = okDetect && okStraddle && okVol && okRecover
    val rows = runs.map { case (k, co, det, t, volS, volM, spilled, coM, detM, tM, epsK) =>
      s"""{"k":$k,"coassigned":$co,"detected":$det,"co_frac":${f"${co.toDouble / planted}%.4f"},"sec":${f"$t%.1f"},""" +
        s""""pair_vol":$volS,"multi":{"eps":${f"$epsK%.4f"},"coassigned":$coM,"detected":$detM,"co_frac":${f"${coM.toDouble / planted}%.4f"},""" +
        s""""spilled":$spilled,"pair_vol":$volM,"vol_ratio":${f"${volM.toDouble / math.max(1L, volS)}%.2f"},"sec":${f"$tM%.1f"}}}"""
    }.mkString(",")
    println(s"""{"probe":"semrecall","n":$n,"planted_pairs":$planted,"tau":$tau,"runs":[$rows],"ok":$ok}""")
    if (!ok) System.err.println(
      s"[scaleprobe] semrecall NOT ok: detect-guarantee=$okDetect straddle-grows=$okStraddle vol<=2x=$okVol multi-recovers=$okRecover runs=$runs")
    ok
  }

  /** StableBoost at probe scale: the two claims the small-SF spec cannot
    * exercise are (a) the fit's cost is ONE linear pass per round (the
    * MLlib GBT iteration shape — summary-sized shuffle, model stays on
    * the driver) and (b) the all-integer pipeline's determinism holds
    * under real partitioning (the Long-partial → BigInt folding engages
    * past 1024 rows per partition, and partial merge order varies with
    * the partition count). This arm fits md5-deterministic synthetic
    * samples at n and n/10, reports the wall ratio (ok: ≤ 25× for 10×
    * data — sublinear-to-linear with generous JIT/launch allowance), and
    * refits at n under a different partition count demanding BIT-equal
    * base scores and stumps. */
  private def probeBoost(spark: org.apache.spark.sql.SparkSession, n: Long): Boolean = {
    import graft.model.StableBoost
    def unit(tag: String) =
      s"(cast(conv(substring(md5(concat('$tag', cast(id as string), ':', cast(d as string))), 1, 15), 16, 10) as double) / 1152921504606846976.0D)"
    def samples(m: Long, parts: Int) = spark.range(m).repartition(parts).select(
      expr(s"transform(sequence(1, 10), d -> ${unit("f:")})").as("features"),
      expr(s"transform(sequence(1, 5), d -> ${unit("l:")})").as("labels"))
    def sig(m: StableBoost.BoostModel): Seq[Long] =
      m.base.toSeq ++ m.stumps.flatMap(_.flatMap(s =>
        Seq(s.j.toLong, s.k.toLong, s.leafL, s.leafR)))
    val (mBig, tBig) = timed(StableBoost.fit(samples(n, 32), rounds = 4))
    val (mSmall, tSmall) = timed(StableBoost.fit(samples(n / 10, 32), rounds = 4))
    val (mRepart, tRepart) = timed(StableBoost.fit(samples(n, 7), rounds = 4))
    val ratio = tBig / math.max(0.1, tSmall)
    val deterministic = sig(mBig) == sig(mRepart)
    val ok = deterministic && ratio <= 25.0
    println(s"""{"probe":"boost","n":$n,"sec":${f"$tBig%.1f"},"sec_tenth":${f"$tSmall%.1f"},""" +
      s""""ratio":${f"$ratio%.1f"},"sec_repart":${f"$tRepart%.1f"},"deterministic":$deterministic,"ok":$ok}""")
    if (!ok) System.err.println(
      s"[scaleprobe] boost NOT ok: deterministic=$deterministic ratio=$ratio")
    ok
  }

  /** The two cost phases of the BPE trainer ([[graft.analytics.Bpe]]),
    * separated at 10× the driver's corpus scale: the word-count
    * aggregation (the only corpus-scale term) vs the merge rounds
    * (vocabulary-bounded). Corpus: `n` docs × 40 words drawn md5-uniform
    * from a 200k-word vocabulary — ~1000× the sf corpus vocabulary, so
    * the rounds arm is stressed, not flattered. The ×10 arm REPLICATES
    * the same corpus 10 times (doc_id % n seeds the generator), which
    * pins an exact law alongside the timings: pair frequencies scale by
    * exactly 10, so the merge SEQUENCE must be identical and every
    * pair_count exactly 10×. ok = that law; the timing split (agg grows
    * ~linearly, rounds ~flat) is the reported evidence. */
  private def probeBpe(spark: org.apache.spark.sql.SparkSession, n: Long): Boolean = {
    import graft.analytics.Bpe
    val vocab = 200000L
    val wpd = 40
    def corpus(nDocs: Long, base: Long) =
      spark.range(nDocs).selectExpr("id AS doc_id",
        s"""concat_ws(' ', transform(sequence(0, ${wpd - 1}), j ->
              concat('w', lower(conv(pmod(cast(conv(substring(md5(cast((id % $base) * $wpd + j AS STRING)), 1, 15), 16, 10) AS BIGINT), $vocab), 10, 36))))) AS text""")
    val (agg1, rounds1, m1) = Bpe.trainInstrumented(corpus(n, n), Bpe.Rounds)
    spark.sharedState.cacheManager.clearCache()
    val (agg10, rounds10, m10) = Bpe.trainInstrumented(corpus(n * 10, n), Bpe.Rounds)
    val agree = m1.map(t => (t._1, t._2)) == m10.map(t => (t._1, t._2)) &&
      m1.map(_._3 * 10) == m10.map(_._3)
    println(s"""{"probe":"bpe","n_docs":$n,"vocab":$vocab,"rounds":${Bpe.Rounds},""" +
      s""""agg_sec":${f"$agg1%.1f"},"agg_sec_x10":${f"$agg10%.1f"},""" +
      s""""rounds_sec":${f"$rounds1%.1f"},"rounds_sec_x10":${f"$rounds10%.1f"},""" +
      s""""merges_agree_x10":$agree}""")
    if (!agree) System.err.println(
      s"[scaleprobe] BPE ×10 replication law broken: $m1 vs $m10")
    agree
  }

  /** CDC dedup probe ([[graft.analytics.Dedup.cdcChunks]]/`dedup_cdc`)
    * at 1M docs: every 100th doc is a byte-identical copy of its
    * successor shifted behind a fresh 32-char prefix — the exact edit
    * fixed-size chunking cannot survive. Measures the chunk pass (per-
    * doc array arithmetic, zero shuffle) + the digest-grouped report,
    * and checks recovery: every planted pair must share ≥1 chunk via
    * the report (shift resilience at volume). Recovery is gated on the
    * HONEST bound, not 100%: a pair shares a chunk iff the shared span
    * contains at least one content-defined boundary (the tail chunk
    * from the last shared boundary is then identical), and boundaries
    * are ~Bernoulli(1/divisor) per gram — so the expected miss rate is
    * (1−1/64)^grams (~0.2% at the probe's ~400-char docs; the same law
    * says sub-divisor-length docs dedup poorly, the known CDC
    * trade). ok = recovery ≥ 1 − 2×that bound, no singleton report
    * rows. */
  private def probeCdc(spark: org.apache.spark.sql.SparkSession, n: Long): Boolean = {
    import graft.analytics.Dedup
    // base text: 8 blocks of 16 md5 hex chars → 128 unique-ish chars per
    // doc; plant: doc i (i%100==0) = prefix + base(i+1)
    val docs = spark.range(n).selectExpr("id AS doc_id",
      """CASE WHEN id % 100 = 0 AND id + 1 < %N%
           THEN concat('fresh-prefix-', substring(md5(cast(id AS STRING)), 1, 19), ' ',
                concat_ws(' ', transform(sequence(0, 23), j ->
                  substring(md5(concat(cast(id + 1 AS STRING), ':', cast(j AS STRING))), 1, 16))))
           ELSE concat_ws(' ', transform(sequence(0, 23), j ->
                  substring(md5(concat(cast(id AS STRING), ':', cast(j AS STRING))), 1, 16)))
         END AS text""".replace("%N%", n.toString))
    val t0 = System.nanoTime()
    val chunks = Dedup.cdcChunks(docs)
    chunks.write.format("noop").mode("overwrite").save()
    val tChunks = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val rep = Dedup.cdcReport(docs)
    val nShared = rep.count()
    val tReport = (System.nanoTime() - t1) / 1e9
    // recovery: planted docs whose doc carries a >=2-doc chunk
    val sharedHashes = rep.select("c_hash")
    val carriers = chunks.join(sharedHashes, Seq("c_hash"), "left_semi")
      .select("doc_id").distinct()
    val planted = docs.where(col("doc_id") % 100 === 0 && col("doc_id") + 1 < n)
      .select("doc_id")
    val plantedN = planted.count()
    val recovered = planted.join(carriers, "doc_id").count()
    val singletons = rep.where(col("n_docs") < 2).count()
    // shared span ~24*16+23 = 407 chars, 400 grams at k=8: the
    // no-boundary miss bound is (63/64)^400
    val missBound = math.pow(63.0 / 64.0, 400)
    val floor = (plantedN * (1.0 - 2 * missBound)).toLong
    val ok = recovered >= floor && singletons == 0L && nShared >= recovered
    println(s"""{"probe":"cdc","n_docs":$n,"chunks_sec":${f"$tChunks%.1f"},""" +
      s""""report_sec":${f"$tReport%.1f"},"shared_chunks":$nShared,""" +
      s""""planted":$plantedN,"recovered":$recovered,""" +
      s""""recovery_floor":$floor,"ok":$ok}""")
    if (!ok) System.err.println(
      s"[scaleprobe] cdc NOT ok: recovered=$recovered/$plantedN singletons=$singletons")
    ok
  }

  /** Concat-and-chunk packing probe ([[graft.analytics.Sampling
    * .concatChunk]], `pack_concat_chunk` / the `pipe_prep_train` tail) at
    * 1M docs: the operator's one shuffle is the per-shard running-total
    * window, so per-task state is bounded by the shard's row count — the
    * `shards` parameter is the scale dial (docs/SCALING.md's "shards
    * bound per-task window state" claim, here measured instead of
    * asserted). Runs the layout at shards=8 and shards=256 and checks
    * the two packing laws STAY EXACT at volume, as Spark aggregates (no
    * driver-side row collection):
    *  - per-doc token conservation: Σ n_toks by doc == an independent
    *    recount of the doc's tokens;
    *  - sequence fullness: every (shard, seq_id) except each shard's
    *    tail sums to exactly seqTokens.
    * ok = both laws hold at both shard counts; the JSON reports wall and
    * the max per-shard row count (the window-state bound) at each. */
  private def probeChunk(spark: org.apache.spark.sql.SparkSession, n: Long): Boolean = {
    import graft.analytics.Sampling
    val docs = spark.range(n).selectExpr("id AS doc_id",
      // 1..200 'w' tokens per doc, md5-deterministic
      "repeat('w ', 1 + pmod(cast(conv(substring(md5(cast(id AS STRING)), 1, 15), 16, 10) AS BIGINT), 200)) AS text")
    val seqT = 256L
    def run(shards: Int): (Double, Long, Long, Long) = {
      val t0 = System.nanoTime()
      Sampling.concatChunk(docs, seqT, shards)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      val out = Sampling.concatChunk(docs, seqT, shards)
      val recount = docs.selectExpr("doc_id",
        "cast(size(split(trim(text), '\\\\s+')) AS BIGINT) AS n_tokens")
      val badDocs = out.groupBy("doc_id").agg(sum("n_toks").as("packed"))
        .join(recount, "doc_id")
        .where(col("packed") =!= col("n_tokens")).count()
      val tails = out.groupBy("shard").agg(max("seq_id").as("tail_seq"))
      val badSeqs = out.groupBy("shard", "seq_id").agg(sum("n_toks").as("s"))
        .join(tails, "shard")
        .where(col("seq_id") =!= col("tail_seq") && col("s") =!= seqT).count()
      val maxShardRows = out.groupBy("shard").count()
        .agg(max("count")).collect()(0).getLong(0)
      (wall, badDocs, badSeqs, maxShardRows)
    }
    val (w8, bd8, bs8, ms8) = run(8)
    val (w256, bd256, bs256, ms256) = run(256)
    val ok = bd8 == 0 && bs8 == 0 && bd256 == 0 && bs256 == 0 &&
      ms256 * 8 < ms8 // the state bound actually shrinks with shards
    println(s"""{"probe":"chunk","n_docs":$n,"seq_tokens":$seqT,""" +
      s""""wall8_sec":${f"$w8%.1f"},"wall256_sec":${f"$w256%.1f"},""" +
      s""""max_shard_rows8":$ms8,"max_shard_rows256":$ms256,""" +
      s""""bad_docs":${bd8 + bd256},"bad_seqs":${bs8 + bs256},"ok":$ok}""")
    if (!ok) System.err.println(
      s"[scaleprobe] chunk NOT ok: bad_docs=$bd8/$bd256 bad_seqs=$bs8/$bs256 " +
        s"state=$ms8/$ms256")
    ok
  }

  /** Deep-BPE probe — evidence for the r12 scale claim (the r11 VERDICT
    * ceiling: word-level training = one Spark job per merge; fold-chain
    * encoding = one plan node per merge):
    *  (a) TRAIN at 1024 merges via the [[graft.analytics.Bpe.trainDeep]]
    *      split — the corpus-scale segment aggregation timed against the
    *      driver-local merge loop (vocab-local arithmetic; contrast: the
    *      distributed per-round trainer would schedule 1024 jobs);
    *  (b) ENCODE the corpus with the native `bpe_tokenize` expression at
    *      16 vs 1024 merges — per-row cost must be depth-independent
    *      (wall ratio ≤ 1.5) and the plan must not grow (chars within
    *      200); the fold chain measured at 16 vs 64 merges for the
    *      growth contrast (at 1024 its plan would hold 1024 nested
    *      replaces — the shape this probe exists to retire);
    *  (c) CORRECTNESS: native@1024 equals a literal rank-order
    *      String.replace fold on a 200-doc sample.
    * ok = full 1024 merges realized, sample agreement, depth-independent
    * wall, constant plan. */
  private def probeBpeDeep(spark: org.apache.spark.sql.SparkSession, n: Long): Boolean = {
    import graft.analytics.Bpe
    val vocab = 200000L
    val wpd = 40
    val docs = spark.range(n).selectExpr("id AS doc_id",
      s"""concat_ws(' ', transform(sequence(0, ${wpd - 1}), j ->
            concat('w', lower(conv(pmod(cast(conv(substring(md5(cast(id * $wpd + j AS STRING)), 1, 15), 16, 10) AS BIGINT), $vocab), 10, 36))))) AS text""")
    val rounds = 1024
    val t0 = System.nanoTime()
    val segs = Bpe.segmentTable(docs, 500)
    val tAgg = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val naive = Bpe.localTrainMerges(segs, rounds)
    val tTrain = (System.nanoTime() - t1) / 1e9
    // the pair-count-delta trainer: same merges (spec-pinned; asserted
    // here too), late rounds touch only carrier segments
    val t1f = System.nanoTime()
    val fast = Bpe.localTrainMergesFast(segs, rounds)
    val tTrainFast = (System.nanoTime() - t1f) / 1e9
    val fastAgree = fast == naive
    // real-vocab depth is feasible only on the delta path: 8x deeper
    val t8 = System.nanoTime()
    val deep8k = Bpe.localTrainMergesFast(segs, rounds * 8)
    val tTrain8k = (System.nanoTime() - t8) / 1e9
    val merges = naive.map { case (l, r, _) => (l, r) }
    def timeNoop(df: DataFrame): Double = {
      val s = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - s) / 1e9
    }
    val tNative16 = timeNoop(Bpe.tokenizeWith(docs, merges.take(16)))
    val tNative = timeNoop(Bpe.tokenizeWith(docs, merges))
    def planChars(m: Seq[(String, String)]): Int =
      Bpe.tokenizeWith(docs, m).queryExecution.executedPlan.toString.length
    val (pc16, pcAll) = (planChars(merges.take(16)), planChars(merges))
    val asTriple = merges.map { case (l, r) => (l, r, 0L) }
    val tFold16 = timeNoop(Bpe.encodeWith(docs, asTriple.take(16)))
    val tFold64 = timeNoop(Bpe.encodeWith(docs, asTriple.take(64)))
    // sample correctness vs a literal rank-order replace fold
    val coder = new graft.functions.BpeCoder(merges)
    def foldEnc(seg: String): String = {
      val W1 = "\u0001"; val W2 = "\u0002"
      val w = seg.codePoints().toArray
        .map(cp => W1 + new String(Character.toChars(cp)) + W2).mkString
      val s = merges.foldLeft(w) { case (acc, (l, r)) =>
        acc.replace(W1 + l + W2 + W1 + r + W2, W1 + l + r + W2)
      }
      s.substring(1, s.length - 1).split(W2 + W1, -1).mkString(" ")
    }
    import spark.implicits._
    val sample = docs.where(col("doc_id") < 200)
      .select(expr(s"replace(trim(text), ' ', '${Bpe.Meta}')")).as[String].collect()
    val agree = sample.forall(seg => coder.encodeString(seg) == foldEnc(seg))
    val ok = agree && fastAgree && merges.size == rounds &&
      deep8k.size == rounds * 8 &&
      tNative <= 1.5 * tNative16 + 2.0 && math.abs(pcAll - pc16) < 200
    println(s"""{"probe":"bpedeep","n_docs":$n,"rounds":$rounds,"realized":${merges.size},""" +
      s""""agg_sec":${f"$tAgg%.1f"},"train_sec":${f"$tTrain%.1f"},""" +
      s""""train_fast_sec":${f"$tTrainFast%.1f"},"fast_agree":$fastAgree,""" +
      s""""rounds_8x":${deep8k.size},"train_8x_sec":${f"$tTrain8k%.1f"},""" +
      s""""native16_sec":${f"$tNative16%.1f"},"native1024_sec":${f"$tNative%.1f"},""" +
      s""""fold16_sec":${f"$tFold16%.1f"},"fold64_sec":${f"$tFold64%.1f"},""" +
      s""""plan_chars_16":$pc16,"plan_chars_1024":$pcAll,"sample_agree":$agree,"ok":$ok}""")
    if (!ok) System.err.println(
      s"[scaleprobe] bpedeep NOT ok: realized=${merges.size} agree=$agree " +
        f"native=$tNative%.1f vs16=$tNative16%.1f plan=$pcAll/$pc16")
    ok
  }

  /** Lexical-arm volume probe for hybrid retrieval: the posting join's
    * candidate volume is Σ_t df_q(t)·df(t), dominated at corpus scale by
    * head (stopword-class) terms that carry near-zero idf mass. This arm
    * builds `n` synthetic 30-token docs over a log-uniform (Zipf-like,
    * df(r) ∝ 1/r) md5-deterministic vocabulary, runs
    * [[graft.analytics.Hybrid.lexicalRanks]] UNCAPPED and df-capped at
    * n/10 and n/100, and reports per cap the candidate-row volume, wall,
    * and SCORE-MASS retention (of the uncapped top-`armK` pairs' lexical
    * scores, the fraction carried by under-cap terms). ok = the trade
    * dial works: volume cut ≥ 2× at every cap and retention strictly
    * monotone in the cap. The measured POINT on the curve is
    * corpus-dependent by construction — this corpus draws slots
    * independently, so mid-df terms carry real top-pair mass (0.87 at
    * n/10, 0.54 at n/100 observed); real text concentrates topical
    * rare-term co-occurrence and sits far higher. Top-LIST overlap is
    * deliberately NOT the gate: single-term tie pools in a synthetic
    * Zipf corpus make the tie-broken tail of a top list arbitrary
    * (observed 0.05 overlap at high score retention). */
  private def probeHybrid(spark: org.apache.spark.sql.SparkSession, n: Long): Boolean = {
    val vocab = 50000L
    // token slot s of doc i: rank = floor(vocab^u) with u = md5-unit —
    // log-uniform ranks give the 1/r df law; term = 't<rank>'
    val docs = spark.range(n).select(col("id").as("doc_id"), expr(
      s"""concat_ws(' ', transform(sequence(0, 29), s ->
         |  concat('t', cast(floor(pow($vocab,
         |    (cast(conv(substring(md5(concat('w:', cast(id as string), ':', cast(s as string))), 1, 15), 16, 10) as double)
         |     / 1152921504606846976.0D))) as long))))""".stripMargin).as("text"))
    hybridSweep(spark, docs, n, "hybrid",
      Seq(math.max(1L, n / 10), math.max(1L, n / 100)).distinct)
  }

  /** The SAME df-cap sweep over the driver's `documents` corpus (VERDICT
    * r10 #5): the synthetic independence corpus UNDERSTATES retention, so
    * the retention point a user tunes against must also be measured on
    * the corpus the engine actually serves. That corpus has NO df tail
    * (31 distinct terms, min df = 5% of docs at sf0.1), so the synthetic
    * arm's corpus-relative caps (n/10, n/100) sit below every term's df
    * and keep NOTHING — the caps here are derived from the corpus's own
    * df distribution instead (median and p25 over distinct terms), which
    * is how the dial is set on any real corpus: against its df quantiles,
    * not against absolute doc counts. Reads `SPARK_GRAFT_SF_DIR` (default
    * sf0.1). Adds top-LIST overlap per cap — meaningful here where the
    * synthetic probe's single-term tie pools don't apply. */
  private def probeHybridReal(spark: org.apache.spark.sql.SparkSession): Boolean = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val docs = graft.Tables.documents(spark, dir).select("doc_id", "text")
    val n = docs.count()
    val dfs = docs.select(col("doc_id"),
        explode(array_distinct(split(trim(col("text")), "\\s+"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
    val qs = dfs.agg(
      percentile_approx(col("df"), lit(0.5), lit(10000)).cast("long"),
      percentile_approx(col("df"), lit(0.25), lit(10000)).cast("long")).head()
    val caps = Seq(qs.getLong(0), qs.getLong(1)).distinct
    hybridSweep(spark, docs, n, "hybridreal", caps, minCut = 1.5)
  }

  /** `minCut`: the volume-cut factor the gate demands at every cap — 2.0
    * for the synthetic Zipf corpus (its df tail makes 2× trivially
    * available); the driver corpus's 31-term no-tail vocabulary tops out
    * at ~2× AT the median-df cap, so its gate checks the DIAL (strictly
    * decreasing volume and retention with tighter caps) at a 1.5×
    * materiality floor rather than an arbitrary corpus-shape constant. */
  private def hybridSweep(spark: org.apache.spark.sql.SparkSession,
                          docsIn: DataFrame, n: Long, probe: String,
                          caps: Seq[Long], minCut: Double = 2.0): Boolean = {
    import graft.analytics.Hybrid
    val docs = docsIn
    docs.cache().count()
    val armK = 20
    def run(cap: Option[Long]): (Long, Array[(Long, Long)], Double) = {
      val (ranks, t) = timed {
        val r = Hybrid.lexicalRanks(docs, nQueries = 10, armK = armK, maxDf = cap)
        r.cache().count()
        r
      }
      val pairs = ranks.collect().map(r => (r.getLong(0), r.getLong(1)))
      ranks.unpersist()
      // candidate volume = matched posting rows BEFORE the (q, n) agg —
      // recomputed relationally so the number is exact, not a plan guess
      val post = docs.select(col("doc_id"),
        explode(array_distinct(split(trim(col("text")), "\\s+"))).as("term"))
      val dfs = post.groupBy("term").agg(count(lit(1)).as("df"))
      val qterms = post.where(col("doc_id") < 10)
        .join(cap.fold(dfs)(c => dfs.where(col("df") <= c)).select("term"), "term")
      val vol = post.join(qterms.select(col("term"), col("doc_id").as("q_id")), "term")
        .where(col("doc_id") =!= col("q_id")).count()
      (vol, pairs, t)
    }
    val (volFull, topFull, tFull) = run(None)
    // score-mass retention over the uncapped top pairs: recompute each
    // pair's BIGINT score with and without the over-cap terms
    val topDf = spark.createDataFrame(topFull.toSeq).toDF("q_id", "n_id")
    val post = docs.select(col("doc_id"),
      explode(array_distinct(split(trim(col("text")), "\\s+"))).as("term"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val iw = post.groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .select(col("term"), col("df"),
        round(round(log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1), 8)
          * 1e6, 0).cast("long").as("iw"))
    val shared = post.where(col("doc_id") < 10).select(col("doc_id").as("q_id"), col("term"))
      .join(post.select(col("doc_id").as("n_id"), col("term")), "term")
      .join(broadcast(topDf), Seq("q_id", "n_id"))
      .join(iw, "term")
    shared.cache().count()
    // caps come floored-at-1 and distinct from the caller (the synthetic
    // arm's n/100 at tiny n would otherwise zero the volume and emit
    // "cut":Infinity — invalid JSON, ADVICE r10)
    val fullSet = topFull.toSet
    val sweep = caps.map { cap =>
      val (volCap, topCap, tCap) = run(Some(cap))
      val m = shared.agg(
        sum("iw").as("full_mass"),
        sum(when(col("df") <= cap, col("iw")).otherwise(lit(0L))).as("cap_mass")).head()
      // top-list overlap: how much of the UNCAPPED top-armK pair list the
      // capped arm reproduces — the serving-visible face of the same
      // trade (score-mass retention is the gate; overlap is reported
      // because synthetic tie pools make it arbitrary there, while on
      // real text it is the number a user actually sees)
      val overlap =
        if (fullSet.isEmpty) 0.0
        else (fullSet intersect topCap.toSet).size.toDouble / fullSet.size
      (cap, volCap, tCap, m.getLong(1).toDouble / m.getLong(0), overlap)
    }
    shared.unpersist(); docs.unpersist()
    val ok = sweep.forall { case (_, v, _, _, _) => v * minCut <= volFull } &&
      sweep.map(_._4) == sweep.map(_._4).sorted.reverse &&
      sweep.map(_._4).distinct.size == sweep.size
    val rows = sweep.map { case (cap, v, t, r, ov) =>
      // v == 0 (every query term over-cap) would format cut as Infinity —
      // not JSON; report the cut as the full volume (the max finite cut)
      s"""{"cap":$cap,"cand_rows":$v,"cut":${f"${volFull.toDouble / math.max(1L, v)}%.1f"},""" +
        s""""sec":${f"$t%.1f"},"top_pair_score_retention":${f"$r%.4f"},"top_list_overlap":${f"$ov%.4f"}}"""
    }.mkString(",")
    println(s"""{"probe":"$probe","n_docs":$n,"cand_rows_full":$volFull,"sec_full":${f"$tFull%.1f"},""" +
      s""""sweep":[$rows],"ok":$ok}""")
    if (!ok) System.err.println(s"[scaleprobe] $probe NOT ok: sweep=$sweep")
    ok
  }

  /** Per-arm default sizes: the original three arms stress row volume
    * (10M); the round-8 arms carry 64-dim vectors / ~200-char text per
    * row, so 1M is the same order of work; the semantic arm's dominance
    * join is N·(N/k) so 200k at k=128 is already ~150M cosine pairs. */
  /** PageRank probe: the iterative-rank loop at graph volume. Two arms
    * on constructed graphs with provable answers:
    *  - CYCLE at n nodes: every node has degree 2 and the all-integer
    *    recurrence is a bit-exact fixed point (r stays exactly 1e12) —
    *    at volume this pins that NO node drifts through 10 rounds of
    *    div/sum arithmetic (a single off-by-one anywhere cascades);
    *  - HUB graph (a chain with every 1000th node also wired to node 0):
    *    node 0's degree is ~n/1000 and it must finish rank 1 — the
    *    skewed-degree regime where contribution floor-division loss and
    *    the sink-keyed sum actually get exercised.
    * Timing is the 10-round loop end-to-end (2 key-partitioned shuffles
    * of an id+long frame per round; the 100 TB cost model). */
  private def probePagerank(spark: org.apache.spark.sql.SparkSession, n: Long): Boolean = {
    import graft.analytics.GraphRank
    val cyc = spark.range(n)
      .select(col("id").as("a"), ((col("id") + 1) % n).as("b"))
      .select(least(col("a"), col("b")).as("vec_a"),
        greatest(col("a"), col("b")).as("vec_b"))
    val ((nNodes, nDrift), tCyc) = timed {
      val r = GraphRank.pagerank(cyc, iters = 10)
      val h = r.agg(count(lit(1)),
        sum(when(col("r") =!= lit(1000000000000L), 1L).otherwise(0L))).head()
      (h.getLong(0), h.getLong(1))
    }
    spark.sharedState.cacheManager.clearCache()
    val chain = spark.range(n - 1)
      .select(col("id").as("vec_a"), (col("id") + 1).as("vec_b"))
    val hubSpokes = spark.range(1L, n / 1000L)
      .select(lit(0L).as("vec_a"), (col("id") * 1000L).as("vec_b"))
    val (top, tHub) = timed {
      GraphRank.pagerank(chain.unionByName(hubSpokes), iters = 10)
        .orderBy(col("r").desc, col("node")).limit(1).head()
    }
    val ok = nNodes == n && nDrift == 0L && top.getLong(0) == 0L
    println(s"""{"probe":"pagerank","n":$n,"cycle_sec":${f"$tCyc%.1f"},""" +
      s""""cycle_drift":$nDrift,"hub_sec":${f"$tHub%.1f"},""" +
      s""""hub_top":${top.getLong(0)},"hub_mass":${top.getLong(1)}}""")
    if (!ok) System.err.println(s"[scaleprobe] pagerank FAILED: nodes=$nNodes drift=$nDrift top=${top.getLong(0)}")
    ok
  }

  /** KMV distinct-count probe: the sketch's scale claim measured — at n
    * synthetic values (16 groups, group g carrying (g+1)·n/136 distinct
    * ids, so cardinalities span ~n/136 … ~n/8.5), the native aggregate
    * ships ≤ k longs per partition per group while exact
    * `count(DISTINCT …)` shuffles EVERY distinct value to its group.
    * Reports both wall times, the ratio, and the worst per-group
    * relative estimator error (gate: < 5/√(k−2), the 5σ bound —
    * deterministic, the hash is fixed). */
  private def probeKmv(spark: org.apache.spark.sql.SparkSession, n: Long): Boolean = {
    val k = 256
    // group g ∈ [0,16) gets a contiguous id range of (g+1) shares of the
    // triangular total — deterministic, skewed cardinalities
    val vals = spark.range(n).select(
      (floor(sqrt(col("id").cast("double") * 2 / (n.toDouble / 136) + 0.25) - 0.5))
        .cast("int").as("gRaw"), col("id"))
      .select(least(col("gRaw"), lit(15)).as("g"),
        concat(lit("v"), col("id").cast("string")).as("v"))
    vals.cache(); vals.count()
    val (sk, tSk) = timed {
      vals.groupBy("g").agg(expr(s"kmv_sketch(v, $k)").as("m"))
        .select(col("g"), size(col("m")).as("kept"),
          element_at(col("m"), -1).as("kth"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    }
    val (ex, tEx) = timed {
      vals.groupBy("g").agg(count_distinct(col("v")).as("n"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    }
    vals.unpersist()
    val errs = sk.map { case (g, kept, kth) =>
      val est = if (kept < k) kept.toLong
        // divisor clamp mirrors the batch estimator (r13 ADVICE)
        else math.round((k - 1) * graft.functions.KmvSketch.Hash60Range / math.max(kth, 1L))
      math.abs(est - ex(g)).toDouble / ex(g)
    }
    val worst = errs.max
    val bound = 5.0 / math.sqrt(k - 2.0)
    val ok = worst < bound && sk.length == 16
    println(s"""{"probe":"kmv","n":$n,"k":$k,"groups":${sk.length},""" +
      s""""sketch_sec":${f"$tSk%.1f"},"exact_sec":${f"$tEx%.1f"},""" +
      s""""speedup":${f"${tEx / math.max(0.1, tSk)}%.2f"},""" +
      s""""worst_rel_err":${f"$worst%.4f"},"err_bound":${f"$bound%.4f"}}""")
    if (!ok) System.err.println(s"[scaleprobe] kmv FAILED: worst=$worst bound=$bound")
    ok
  }

  /** `streamkeys` — the MANY-KEY axis of the streaming ingest state
    * machine (VERDICT r13 #5). `ThroughputSpec` soaks tick VOLUME (10k /
    * 50k ticks over ≤40 tickers); the axis a 100× cluster actually grows
    * is KEY COUNT — `flatMapGroupsWithState` holds one `TickState` per
    * ticker (`StreamingPipeline.events`), so state-store rows, the
    * per-batch key shuffle fan, and the store commit path scale with
    * tickers, not ticks. `n` COLD tickers stream 4 ticks each across two
    * micro-batches (batch 2 arrives against EXISTING state — the regime
    * a long-lived ingest lives in), beside 100 HOT tickers × 40 ticks
    * that cross bootstrap (seqLen 10) and several updateInterval=10
    * retrain cycles. Measured / gated:
    *  - per-batch wall seconds — the latency claim is that batch cost
    *    tracks ARRIVING volume, not accumulated key count (batch 2 must
    *    not exceed batch 1 by more than the contention-noise allowance);
    *  - state-store rows == total key count (`lastProgress`);
    *  - PER-KEY ISOLATION: every hot ticker's complete event sequence
    *    (kind/ts/step/seq/values, ticker projected away) equals a SOLO
    *    control run's over the same series — bootstrap, forecast,
    *    match, RMSE, and the retrain cadence per key are bit-unchanged
    *    by `n` co-resident keys. */
  private def probeStreamKeys(spark: org.apache.spark.sql.SparkSession, n: Long): Boolean = {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.schema.RawTick
    val nHot = 100
    val hotTicks = 40
    val coldTicks = 4
    // consecutive prices always differ (37 coprime to 97), so TR-1 accepts
    // every tick and the per-key event count is deterministic
    def price(i: Int): Double = 100.0 + (i * 37 % 97)
    def series(t: String, cnt: Int, from: Int, until: Int): Seq[RawTick] =
      (from until math.min(cnt, until)).map(i =>
        RawTick(t, new java.sql.Timestamp(1700000000000L + i * 1000L), price(i)))
    def run(feed: Seq[Seq[RawTick]]): (Vector[Double], Long, org.apache.spark.sql.DataFrame) = {
      val ms = MemoryStream[RawTick]
      val name = s"sk_${System.nanoTime()}"
      val q = graft.streaming.StreamingPipeline.events(ms.toDS())
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      val times = Vector.newBuilder[Double]
      var stateRows = -1L
      try {
        feed.foreach { b =>
          val t0 = System.nanoTime()
          ms.addData(b)
          q.processAllAvailable()
          times += (System.nanoTime() - t0) / 1e9
        }
        stateRows = Option(q.lastProgress)
          .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
      } finally q.stop()
      (times.result(), stateRows, spark.table(name))
    }
    def keyVectors(df: org.apache.spark.sql.DataFrame): Map[String, Vector[String]] =
      df.collect()
        .map(r => (r.getString(0), r.toSeq.drop(1).mkString("|")))
        .groupBy(_._1).map { case (t, rs) => t -> rs.map(_._2).sorted.toVector }
    // control: ONE ticker, the hot series, alone in its own query
    val (_, ctrlState, ctrlT) = run(Seq(series("CTRL", hotTicks, 0, hotTicks)))
    val ctrlVec = keyVectors(ctrlT)("CTRL")
    // main run: n cold + nHot hot keys, each series split across 2
    // batches (hot and cold split at their OWN halfway points)
    val hotNames = (0 until nHot).map(i => s"H$i")
    def batch(fromHot: Int, untilHot: Int, fromCold: Int, untilCold: Int): Seq[RawTick] =
      hotNames.flatMap(t => series(t, hotTicks, fromHot, untilHot)) ++
        (0L until n).flatMap(k => series(s"C$k", coldTicks, fromCold, untilCold))
    val b1 = batch(0, hotTicks / 2, 0, coldTicks / 2)
    val b2 = batch(hotTicks / 2, hotTicks, coldTicks / 2, coldTicks)
    val ((times, stateRows, evT), tAll) = timed { run(Seq(b1, b2)) }
    // arriving volume per batch, derived from the ACTUAL built batches
    // (equal by construction — every series splits at its own halfway
    // point), so the emitted provenance matches the latency gate below:
    // equal volume in, so batch 2's latency must track batch 1's, not
    // the resident key count (r14 ADVICE: the old hand-derived vol1/vol2
    // carried a stale "batch 2 exceeds batch 1" note)
    val vol1 = b1.size
    val vol2 = b2.size
    val hotVecs = keyVectors(evT.where(col("ticker").startsWith("H")))
    val isolation = hotNames.forall(t => hotVecs.get(t).contains(ctrlVec))
    val stateOk = stateRows == n + nHot && ctrlState == 1L
    // latency law: equal arriving volume ⇒ batch 2 within 3× of batch 1
    // (generous contention allowance; the failure mode — per-batch cost
    // growing with TOTAL key count — would show as a large multiple)
    val latOk = times.length == 2 && times(1) <= times(0) * 3 + 2.0
    val ok = isolation && stateOk && latOk
    println(s"""{"probe":"streamkeys","keys":$n,"hot":$nHot,""" +
      s""""vol1":$vol1,"vol2":$vol2,""" +
      s""""b1_sec":${f"${times.headOption.getOrElse(-1.0)}%.1f"},""" +
      s""""b2_sec":${f"${times.lift(1).getOrElse(-1.0)}%.1f"},""" +
      s""""total_sec":${f"$tAll%.1f"},"state_rows":$stateRows,""" +
      s""""isolation":$isolation,"ok":$ok}""")
    if (!ok) System.err.println(s"[scaleprobe] streamkeys FAILED: " +
      s"isolation=$isolation stateRows=$stateRows (want ${n + nHot}) times=$times")
    ok
  }

  /** The streaming refit at long history (ROADMAP item 1): ONE key
    * streams `n` accepted ticks (default 100k) in 1k-tick batches through
    * the default `Config()`, which refits on the whole history every 10
    * ticks. Prices move ±1..5 cents per tick, so TR-1 accepts every tick.
    * For three 10-batch bands — starting at 1k and 10k history, and the
    * last ten batches (ending at `n`) — it prints ticks/s, p50/p99 batch
    * latency and the key's state bytes (`memoryUsedBytes`) at the band's
    * end. Gate: the last band's p50 within 2× the 10k band's — the
    * first band still carries JIT warm-up, so the gate compares steady
    * state with steady state. A refit that rescales and rewindows the
    * whole history grows linearly per batch and fails it long before
    * 100k. */
  private def probeStreamHist(spark: org.apache.spark.sql.SparkSession, n: Long): Boolean = {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.schema.RawTick
    val batch = 1000
    val nBatches = (n / batch).toInt
    require(nBatches >= 20, s"streamhist needs at least 20 batches of $batch ticks, got n=$n")
    val rnd = new scala.util.Random(31)
    var cents = 10000L
    def ticks(b: Int): Seq[RawTick] = (0 until batch).map { i =>
      val step = (rnd.nextInt(5) + 1) * (if (rnd.nextBoolean()) 1L else -1L)
      cents = if (cents + step < 100L) cents - step else cents + step
      RawTick("HIST", new java.sql.Timestamp(1700000000000L + (b.toLong * batch + i) * 1000L),
        cents / 100.0)
    }
    val ms = MemoryStream[RawTick]
    val q = graft.streaming.StreamingPipeline.events(ms.toDS())
      .writeStream.format("noop").outputMode("append").start()
    val times = new Array[Double](nBatches)
    val stateBytes = new Array[Long](nBatches)
    val (_, tAll) = timed {
      try (0 until nBatches).foreach { b =>
        val feed = ticks(b)
        val t0 = System.nanoTime()
        ms.addData(feed)
        q.processAllAvailable()
        times(b) = (System.nanoTime() - t0) / 1e9
        stateBytes(b) = Option(q.lastProgress).map(_.stateOperators.map(_.memoryUsedBytes).sum)
          .getOrElse(-1L)
      } finally q.stop()
    }
    def pct(xs: Seq[Double], p: Double): Double = {
      val s = xs.sorted
      s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1))
    }
    // batch b runs history b·1k → (b+1)·1k; batch 0 (JIT warm-up) is in no band
    val bands = Seq("1k" -> (1 until 11), "10k" -> (10 until 20),
      s"${n / 1000}k" -> (nBatches - 10 until nBatches))
    val rows = bands.map { case (at, idx) =>
      val ts = idx.map(times(_))
      (at, idx, batch * ts.size / ts.sum, pct(ts, 0.5), pct(ts, 0.99), stateBytes(idx.last))
    }
    val ratio = rows.last._4 / rows(1)._4 // last band over the 10k band
    val ok = ratio <= 2.0
    val bandJson = rows.map { case (at, idx, tps, p50, p99, bytes) =>
      s"""{"at":"$at","history":[${idx.head * batch},${(idx.last + 1) * batch}],""" +
        f""""ticks_per_s":$tps%.0f,"p50_s":$p50%.3f,"p99_s":$p99%.3f,"state_bytes":$bytes}"""
    }.mkString("[", ",", "]")
    println(s"""{"probe":"streamhist","ticks":${nBatches.toLong * batch},"batch":$batch,""" +
      s""""bands":$bandJson,""" + f""""late_over_base":$ratio%.2f,"total_sec":$tAll%.1f,""" +
      s""""ok":$ok}""")
    if (!ok) System.err.println(f"[scaleprobe] streamhist FAILED: late/base p50 = $ratio%.2f > 2")
    ok
  }

  /** PageRank under POWER-LAW skew (VERDICT r12 #6) — the crawl-graph
    * failure regime the uniform-cycle probe cannot exercise: one hub
    * with in-degree ~n^0.8 (≈110k at the 2M default; a real crawl's
    * hottest host) over a background chain. What the shape predicts and
    * this arm verifies by measurement:
    *  - the SINK-KEYED SUM (`groupBy(dst).sum`) absorbs the hub BEFORE
    *    the shuffle — partial aggregation folds each partition's ~n^0.8/P
    *    hub contributions to ONE row, so the reduce side of the hot key
    *    receives P rows, not n^0.8 (the reason no salting layer is
    *    needed here, unlike a shuffle-then-aggregate formulation);
    *  - the CONTRIBUTION JOIN's hot key is 1 (rank row) × n^0.8 (edge
    *    rows) — the one-row-per-key probe side streams, nothing buffers.
    *  The "skew tax" reported is hub-graph time over same-n cycle time
    *  measured in the SAME session; a tax ≳2 would flag a real hot-key
    *  bottleneck and the fix would be salting the contribution
    *  aggregation. Bit-exactness under skew is asserted structurally:
    *  ranks are identical under a different edge partitioning (the
    *  integer recurrence has no accumulation-order freedom). */
  private def probePagerankSkew(spark: org.apache.spark.sql.SparkSession, n: Long): Boolean = {
    import graft.analytics.GraphRank
    val hubDeg = math.max(1000L, math.pow(n.toDouble, 0.8).toLong)
    val stride = math.max(1L, (n - 1) / hubDeg)
    val chain = spark.range(1L, n - 1)
      .select(col("id").as("vec_a"), (col("id") + 1).as("vec_b"))
    val spokes = spark.range(hubDeg)
      .select(lit(0L).as("vec_a"), (col("id") * stride + 1).as("vec_b"))
    val edges = chain.unionByName(spokes)
    val (top, tSkew) = timed {
      GraphRank.pagerank(edges, iters = 10)
        .orderBy(col("r").desc, col("node")).limit(1).head()
    }
    spark.sharedState.cacheManager.clearCache()
    // same-session uniform baseline for the tax ratio
    val cyc = spark.range(n)
      .select(col("id").as("a"), ((col("id") + 1) % n).as("b"))
      .select(least(col("a"), col("b")).as("vec_a"),
        greatest(col("a"), col("b")).as("vec_b"))
    val (_, tCyc) = timed {
      GraphRank.pagerank(cyc, iters = 10).agg(count(lit(1))).head()
    }
    spark.sharedState.cacheManager.clearCache()
    // partition-invariance under skew: the all-integer recurrence must
    // yield bit-identical ranks on a reshuffled edge frame
    val r1 = GraphRank.pagerank(edges, iters = 10)
    val r2 = GraphRank.pagerank(edges.repartition(13), iters = 10)
    val nDiff = r1.join(r2.withColumnRenamed("r", "r2"), "node")
      .where(col("r") =!= col("r2")).count()
    val nJoin = r1.join(r2.select("node"), "node").count()
    spark.sharedState.cacheManager.clearCache()
    val tax = tSkew / math.max(0.1, tCyc)
    val ok = top.getLong(0) == 0L && nDiff == 0L && nJoin >= n - 2
    println(s"""{"probe":"pagerankskew","n":$n,"hub_deg":$hubDeg,""" +
      s""""skew_sec":${f"$tSkew%.1f"},"cycle_sec":${f"$tCyc%.1f"},""" +
      s""""skew_tax":${f"$tax%.2f"},"hub_top":${top.getLong(0)},""" +
      s""""hub_mass":${top.getLong(1)},"repart_diff":$nDiff}""")
    if (!ok) System.err.println(
      s"[scaleprobe] pagerankskew FAILED: top=${top.getLong(0)} diff=$nDiff join=$nJoin")
    ok
  }

  /** MMR probe: the greedy loop at WORKLOAD volume — `nQ` queries × 12
    * candidates (the corpus never enters [[graft.analytics.Similarity
    * .mmrGreedy]]; its cost is |Q|·depth² by construction, which is the
    * whole scale claim). Every query gets the SAME planted frame
    * (rel descending in n_id; adjacent ids near-identical at pc=9000,
    * everything else pc=10), so the expected pick sequence is ONE local
    * greedy replay and the distributed result must realize it
    * identically for all nQ queries. */
  private def probeMmr(spark: org.apache.spark.sql.SparkSession, nQ: Long): Boolean = {
    import graft.analytics.Similarity
    val depth = 12; val kSel = 5
    val qs = spark.range(nQ).select(col("id").as("q_id"))
    val js = spark.range(depth.toLong).select(col("id").as("j"))
    val cand = qs.crossJoin(js)
      .select(col("q_id"), col("j").as("n_id"), (lit(10000L) - col("j") * lit(100L)).as("rel"))
    val pairs = qs.crossJoin(js.select(col("j").as("a_id")))
      .crossJoin(js.select(col("j").as("b_id")))
      .where(col("a_id") =!= col("b_id"))
      .select(col("q_id"), col("a_id"), col("b_id"),
        when(abs(col("a_id") - col("b_id")) === 1L, 9000L).otherwise(10L).as("pc"))
    // local replay of the planted single-query instance
    val rel = (0 until depth).map(j => j.toLong -> (10000L - j * 100L)).toMap
    def pc(a: Long, b: Long): Long = if (math.abs(a - b) == 1L) 9000L else 10L
    var chosen = Vector.empty[(Long, Long, Long)] // (pick, n_id, mmr)
    for (r <- 1 to kSel) {
      val best = (0L until depth.toLong).filterNot(n => chosen.exists(_._2 == n))
        .map { n =>
          val pen = if (chosen.isEmpty) 0L else chosen.map(c => pc(n, c._2)).max
          (n, 7L * rel(n) - 3L * pen)
        }.maxBy { case (n, s) => (s, -n) }
      chosen :+= ((r.toLong, best._1, best._2))
    }
    val ((nRows, nOff), t) = timed {
      cand.cache(); cand.count(); pairs.cache(); pairs.count() // the mmrCandidates discipline
      val out = Similarity.mmrGreedy(cand, pairs, kSel, lamC = 7)
      val expectDf = spark.createDataFrame(chosen).toDF("pick", "n_id", "mmr")
      val h = out.agg(count(lit(1))).head()
      val off = out.join(expectDf, Seq("pick", "n_id", "mmr"), "left_anti")
        .agg(count(lit(1))).head()
      (h.getLong(0), off.getLong(0))
    }
    cand.unpersist(); pairs.unpersist()
    val ok = nRows == nQ * kSel && nOff == 0L
    println(s"""{"probe":"mmr","n_queries":$nQ,"rows":$nRows,""" +
      s""""off_plan_rows":$nOff,"sec":${f"$t%.1f"}}""")
    if (!ok) System.err.println(s"[scaleprobe] mmr FAILED: rows=$nRows off=$nOff")
    ok
  }

  /** DSIR probe: the importance gate at corpus volume. Deterministic
    * synthetic corpus of `n` 40-word docs over md5-word vocabularies —
    * 20% of docs are the 'en' TARGET slice drawing from the first HALF
    * of the vocabulary (ids 0..4999), the rest from the full 10k — so
    * the hashed-bucket LLR model has a real signal to find. Claims
    * pinned at volume: the model is EXACTLY `buckets` rows (broadcast
    * model parameters regardless of corpus size — the scale claim), the
    * target slice's mean weight exceeds the rest's (the signal
    * survives 64-bucket hashing at 40M word occurrences), and the
    * top-k selection is target-enriched well past the 20% base rate.
    * Timing covers model fit + weights + TakeOrdered end-to-end. */
  private def probeDsir(spark: org.apache.spark.sql.SparkSession, n: Long): Boolean = {
    import graft.analytics.Sampling
    val docs = spark.range(n).select(
      col("id").as("doc_id"),
      expr("CASE WHEN cast(conv(substr(md5(concat('l:', cast(id AS STRING))), 1, 15)," +
        " 16, 10) AS BIGINT) % 5 = 0 THEN 'en' ELSE 'xx' END").as("lang"))
      .withColumn("cap", when(col("lang") === "en", lit(5000L)).otherwise(lit(10000L)))
      .withColumn("text", expr(
        "array_join(transform(sequence(0, 39), i -> " +
          "substr(md5(cast(cast(conv(substr(md5(concat(doc_id, ':', i)), 1, 15), 16, 10)" +
          " AS BIGINT) % cap AS STRING)), 1, 8)), ' ')"))
      .select("doc_id", "lang", "text")
    val (modelRows, tModel) = timed {
      Sampling.dsirRatioTable(docs).length
    }
    val ((meanEn, meanXx, keptEnPm), tSel) = timed {
      val w = Sampling.dsirWeights(docs)
        .join(docs.select("doc_id", "lang"), "doc_id")
      w.cache(); w.count()
      val m = w.groupBy("lang").agg(avg(col("dsir_w")).as("mw"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val kept = w.orderBy(col("dsir_w").desc, col("doc_id")).limit(10000)
        .agg(sum(when(col("lang") === "en", 1L).otherwise(0L))).head().getLong(0)
      w.unpersist()
      (m("en"), m("xx"), kept * 1000L / 10000L)
    }
    // enrichment gate: the target's 200‰ base rate must at least double
    // in the kept set (measured 480‰ — 2.4×; not >half, because the
    // non-target docs SHARE the low half of the vocabulary by design)
    val ok = modelRows == 64 && meanEn > meanXx && keptEnPm > 400L
    println(s"""{"probe":"dsir","n_docs":$n,"model_rows":$modelRows,""" +
      s""""model_sec":${f"$tModel%.1f"},"select_sec":${f"$tSel%.1f"},""" +
      s""""mean_w_en":${meanEn.round},"mean_w_other":${meanXx.round},""" +
      s""""kept_en_pm":$keptEnPm}""")
    if (!ok) System.err.println(s"[scaleprobe] dsir FAILED: rows=$modelRows en=$meanEn xx=$meanXx keptEnPm=$keptEnPm")
    ok
  }

  private val defaults = Map(
    "quartiles" -> 10000000L, "asof" -> 10000000L, "clusters" -> 10000000L,
    "ivfbalance" -> 1000000L, "substring" -> 1000000L, "semantic" -> 200000L,
    // semtau: 3 τs at k=64 ≈ 3 × N·(N/k)/2 cosine pairs; semrecall: the
    // k=16 run dominates (N·(N/16)/2) — both sized to the semantic arm's
    // pair-volume order
    "semtau" -> 100000L, "semrecall" -> 50000L,
    // hybrid: candidate volume ≈ Σ_t df_q(t)·df(t) ≈ 300 query-term
    // postings × mean df — 1M docs keeps the uncapped join ~10^7 rows
    "hybrid" -> 1000000L,
    // hybridreal: size is the real corpus's (SPARK_GRAFT_SF_DIR); the
    // value here only keeps the 'all' loop uniform
    "hybridreal" -> 0L,
    // boost: 2M samples ≈ the fit cost of one 4-round pass over ~120M
    // quantized feature cells plus the n/10 and repartitioned refits
    "boost" -> 2000000L,
    // projivf: 1M vectors x 256 lists ~ 16G mul-adds full-dim, the
    // regime where the 4x dim cut in coarse assignment is visible
    "projivf" -> 1000000L,
    // bpedeep: 1M 40-word docs; the encode scans dominate, the 1024-round
    // driver-local train is vocab-local arithmetic sized by the 500-seg cap
    "bpedeep" -> 1000000L,
    // chunk: 1M docs x ~100 mean tokens; the window state dial is the claim
    "chunk" -> 1000000L,
    // cdc: 1M ~150-char docs, 1% planted shifted copies
    "cdc" -> 1000000L,
    // pagerank: 2M-node graphs, 10 rounds x 2 shuffles of id+long rows;
    // mmr: 200k queries x 12 candidates -> 26M cached pair rows, the
    // workload-volume regime (the corpus never enters the loop)
    // pagerankskew: same volume, one hub at in-degree n^0.8 (the
    // power-law crawl regime) + a partition-invariance bit-equality pass
    "pagerank" -> 2000000L, "pagerankskew" -> 2000000L, "mmr" -> 200000L,
    // kmv: 20M string values across 16 skew-sized groups; the exact
    // count-distinct beside it is the cost being escaped
    "kmv" -> 20000000L,
    // streamkeys: 100k tickers through the ingest state machine (the
    // many-key axis); the 1M rung is run/recorded manually in SCALING.md
    "streamkeys" -> 100000L,
    // streamhist: ONE key to 100k accepted ticks of history (the long-
    // history axis), 1k-tick batches through the default config
    "streamhist" -> 100000L,
    // ivfingest: 1M-vector index + 100 one-file insert batches — the
    // file-count regime where compaction's motivation is measurable
    "ivfingest" -> 1000000L,
    // dsir: 1M 40-word docs -> 40M word occurrences through the bucket
    // model and the weight aggregation; model stays 64 rows
    "dsir" -> 1000000L,
    // curation: 2M 18-word docs -> ~32M trigram hashes through the
    // novelty anti-join and a 2M-row digest diff; text never shuffles
    "curation" -> 2000000L,
    // overlap: 1M x 1M intervals at ~3 overlaps each; the naive arm runs
    // at n/100 where its quadratic cost is still feasible
    "overlap" -> 1000000L,
    // bpe: n docs × 40 words over a 200k-word vocabulary; the ×10
    // replicated arm pushes the word-count aggregation to 10× the
    // instances while the merge rounds stay vocabulary-bounded
    "bpe" -> 250000L,
    // phash: 1M BMP payloads, 1% planted near-dup pairs through the
    // full decode → dHash → banded-Hamming chain (SCALING.md r16 run)
    "phash" -> 1000000L,
    // ahash: 1M WAV payloads, 1% planted one-window near-dup pairs
    // through the PCM energy-envelope -> banded-Hamming chain (r18)
    "ahash" -> 1000000L,
    // contam: 1M train vectors vs a 4k eval fold through the
    // hyperplane-LSH candidate pass + exact verify (SCALING.md r16 run)
    "contam" -> 1000000L,
    // opq: 400k planted-anisotropic vectors through the variance fit
    // (the hash-sample overflow guard ENGAGES past 3e5) + both full PQ
    // trains + the recall comparison against a brute-force ground truth
    // (the Lloyd rounds dominate — ~2.5 min per train at this n)
    "opq" -> 400000L,
    // opqpca: 400k oblique-anisotropy vectors through the full cascade
    // (natural refusal via the hash-sampled fit, 12 full-corpus power
    // rounds, Householder, rotated engagement, recall win) (r18)
    "opqpca" -> 400000L)

  /** Projection-assisted coarse assignment —
    * [[graft.analytics.Similarity.annIvfProjected]]'s scale claim,
    * measured: past the literal regime, assignment cost per vector is
    * nLists × dims mul-adds; projecting to 16 dims first costs a
    * one-off dims×16 per vector and divides the per-list term by 4, so
    * the win grows with nLists (probed at 256). Reports both wall times
    * and the primary-assignment agreement fraction (a recall proxy
    * only — the serving rung re-ranks by exact full-dim cosine, so
    * assignment disagreement shifts list geometry, never scores). */
  private def probeProjIvf(spark: org.apache.spark.sql.SparkSession, n: Long): Boolean = {
    import graft.analytics.Similarity
    val clusters = 32
    val nLists = 256
    val u = (graft.functions.Hashes.md5Long60(col("id").cast("string")) % 1000000L)
      .cast("double") / 1e6
    val emb = spark.range(n)
      .select(col("id").as("vec_id"), floor(u * u * clusters).cast("int").as("c"))
      .select(col("vec_id"), expr(
        """transform(sequence(0, 63), d ->
          |  ((cast(conv(substring(md5(concat('c:', cast(c as string), ':', cast(d as string))), 1, 15), 16, 10) as long) % 2001) - 1000) / 1000.0D
          |  + ((cast(conv(substring(md5(concat('n:', cast(vec_id as string), ':', cast(d as string))), 1, 15), 16, 10) as long) % 2001) - 1000) / 4000.0D)""".stripMargin)
        .as("e"))
    emb.cache().count()
    def assignOver(frame: DataFrame, vecCol: String,
                   cents: Array[(Long, Array[Double])]): DataFrame =
      frame.join(broadcast(Similarity.centroidFrame(spark, cents)), lit(true))
        .groupBy("vec_id")
        .agg(max(struct(round(Similarity.cosine(col(vecCol), col("ce")), 4).as("c"),
          (-col("c_id")).as("n"))).as("w"))
        .select(col("vec_id"), (-col("w.n")).as("list_id"))
    val cents = Similarity.hashCentroids(emb, nLists)
    // centroids project driver-side with the exact operator arithmetic
    def projLocal(ce: Array[Double]): Array[Double] = {
      val q = ce.map(x => BigDecimal(x * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
      Array.tabulate(16)(j =>
        (0 until 64).map(i => q(i) * Similarity.rpSign(j, i)).sum.toDouble / 1e6)
    }
    val cents16 = cents.map { case (id, ce) => (id, projLocal(ce)) }
    // two regimes, both reported honestly:
    //  - inline: projection computed inside the assignment pass (the
    //    zip_with/aggregate HOFs are not whole-stage-codegen'd, so at 1M
    //    this measures ~break-even — the transform eats the dim savings);
    //  - amortized: ep materialized once (what a real index build does —
    //    the projected vectors ARE an index column), then every
    //    assignment/refinement/probe scan pays 16 dims instead of 64.
    val proj = Similarity.withProjection(emb, 64, 16).select(col("vec_id"), col("ep"))
    val tFull = run(assignOver(emb, "e", cents))
    val tInline = run(assignOver(proj, "ep", cents16))
    val (_, tBuild) = timed { proj.cache().count() }
    val tAmort = run(assignOver(proj, "ep", cents16))
    val agree = assignOver(emb, "e", cents).withColumnRenamed("list_id", "lf")
      .join(assignOver(proj, "ep", cents16).withColumnRenamed("list_id", "lp"),
        "vec_id")
      .agg(avg(when(col("lf") === col("lp"), 1.0).otherwise(0.0))).head().getDouble(0)
    proj.unpersist()
    emb.unpersist()
    val ok = agree >= 0.2 && tAmort < tFull
    println(s"""{"probe":"projivf","n":$n,"n_lists":$nLists,""" +
      s""""full_sec":${f"$tFull%.1f"},"inline_sec":${f"$tInline%.1f"},""" +
      s""""build_sec":${f"$tBuild%.1f"},"amortized_sec":${f"$tAmort%.1f"},""" +
      s""""amortized_speedup":${f"${tFull / math.max(0.1, tAmort)}%.2f"},""" +
      s""""agree":${f"$agree%.4f"},"ok":$ok}""")
    if (!ok) System.err.println(
      s"[scaleprobe] projivf NOT ok: agree=$agree full=$tFull amortized=$tAmort")
    ok
  }

  /** Interval-overlap join at probe scale
    * ([[graft.operators.RangeJoin.intervalOverlap]]'s canonical-bucket
    * decomposition): `n` synthetic sessions with md5-uniform starts over
    * a span that keeps mean overlap fan-out ~3 (the realistic
    * concurrency regime). The bucketed join runs at full `n`; the naive
    * θ-join — the BroadcastNestedLoopJoin Spark plans for `aLo <= bHi
    * AND bLo <= aHi` — runs at n/100 only, because its quadratic cost
    * makes the full size unrunnable (which is the point). Parity at
    * n/100 via an order-insensitive pair checksum; the full-size arm
    * reports wall time and pair volume. */
  private def probeOverlap(spark: org.apache.spark.sql.SparkSession, n: Long): Boolean = {
    import graft.operators.RangeJoin
    def intervals(m: Long, pre: String): DataFrame = {
      val lo = graft.functions.Hashes.md5Long60(concat(lit("lo:"), col("id").cast("string"))) % (m * 10000L)
      val len = graft.functions.Hashes.md5Long60(concat(lit("ln:"), col("id").cast("string"))) % 30000L
      spark.range(m).select(col("id").as(s"${pre}_id"),
        lo.as(s"${pre}_lo"), (lo + len).as(s"${pre}_hi"))
    }
    def checksum(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        sum((col("a_id") * 31 + col("b_id")) % 1000003L)).head()
      (r.getLong(0), r.getLong(1))
    }
    // parity at the size the naive join can still run
    val m = math.max(1000L, n / 100)
    val (am, bm) = (intervals(m, "a"), intervals(m, "b"))
    val naive = am.join(bm, col("a_lo") <= col("b_hi") && col("b_lo") <= col("a_hi"))
      .select("a_id", "b_id")
    val (fpNaive, tNaive) = timed(checksum(naive))
    val bucketedM = RangeJoin.intervalOverlap(am, bm, "a_lo", "a_hi", "b_lo", "b_hi", 20000L)
      .select("a_id", "b_id")
    val (fpBucketM, _) = timed(checksum(bucketedM))
    // full size: bucketed only
    val (a, b) = (intervals(n, "a"), intervals(n, "b"))
    val tFull = run(RangeJoin.intervalOverlap(a, b, "a_lo", "a_hi", "b_lo", "b_hi", 20000L))
    val (fpFull, _) = timed(checksum(
      RangeJoin.intervalOverlap(a, b, "a_lo", "a_hi", "b_lo", "b_hi", 20000L)
        .select("a_id", "b_id")))
    val ok = fpNaive == fpBucketM && fpFull._1 > 0
    println(s"""{"probe":"overlap","n":$n,"pairs":${fpFull._1},""" +
      s""""bucketed_sec":${f"$tFull%.1f"},"naive_n":$m,""" +
      s""""naive_sec":${f"$tNaive%.1f"},"parity":${fpNaive == fpBucketM},"ok":$ok}""")
    if (!ok) System.err.println(
      s"[scaleprobe] overlap NOT ok: naive=$fpNaive bucketed=$fpBucketM full=$fpFull")
    ok
  }

  /** INDEX-INGEST LIFECYCLE at probe volume (VERDICT r14 #5):
    * [[graft.analytics.IvfIndex.compact]]'s motivation — "file-count
    * growth degrades scan planning long before data size does" — was
    * asserted, never measured. This arm builds a rounds-0 IVF index over
    * `n` synthetic vectors, streams 100 [[IvfIndex.insert]] batches
    * into it (one appended file each, the streaming-ingest shape),
    * measures SERVE latency at batch counts {0, 25, 50, 100}, compacts
    * through the [[IvfIndex.compactIfNeeded]] trigger, then applies
    * a 10% tombstone mass and re-measures through the live anti-join and
    * after the tombstone-applying compaction. Correctness rides along:
    * the serving fingerprint is bit-stable across compaction (membership
    * set untouched), and no tombstoned id ever surfaces as a neighbor. */
  private def probeIvfIngest(spark: org.apache.spark.sql.SparkSession, n: Long): Boolean = {
    import graft.analytics.IvfIndex
    val batches = 100
    val batchSize = math.max(100L, n / 1000)
    def synth(from: Long, until: Long): DataFrame =
      spark.range(from, until).select(col("id").as("vec_id"))
        .select(col("vec_id"), expr(
          """transform(sequence(0, 63), d ->
            |  ((cast(conv(substring(md5(concat('v:', cast(vec_id as string), ':', cast(d as string))), 1, 15), 16, 10) as long) % 2001) - 1000) / 1000.0D)""".stripMargin)
          .as("e"))
    // the full post-ingest corpus: serving joins it to the membership, so
    // pre-insert serves simply see no rows for the not-yet-inserted ids
    val full = synth(0, n + batches * batchSize).cache()
    full.count()
    val p = java.nio.file.Files.createTempDirectory("graft_ivfingest").toString
    val (_, tBuild) = timed {
      IvfIndex.build(spark, full.where(col("vec_id") < n), p, IvfIndex.Spec(nLists = 64))
    }
    val idx = IvfIndex.open(spark, p)
    def served(): DataFrame = idx.serve(full.where(col("vec_id") < 10), nProbe = 8,
      corpus = Some(full))
    def serve(): Double = run(served())
    def fp(): Long = served()
      .agg(sum(col("q_id") * 1000003L + col("n_id") * 31L + col("rank"))).head().getLong(0)
    val files0 = idx.assignFileCount
    val tServe0 = serve()
    val serveAt = scala.collection.mutable.LinkedHashMap[Int, Double]()
    val (_, tIngest) = timed {
      var b = 0
      while (b < batches) {
        idx.insert(synth(n + b * batchSize, n + (b + 1) * batchSize).coalesce(1))
        b += 1
        if (b == 25 || b == 50) serveAt(b) = serve()
      }
    }
    val files100 = idx.assignFileCount
    serveAt(100) = serve()
    val fpPre = fp()
    val (compacted, tCompact) = timed {
      idx.compactIfNeeded(maxFiles = 64, nFiles = 8)
    }
    val filesC = idx.assignFileCount
    val tServeC = serve()
    val fpPost = fp()
    // 10% tombstone mass over the ingested index
    val thr = graft.analytics.Similarity.InsertHashThreshold
    val h = graft.functions.Hashes.md5Long60(col("vec_id").cast("string"))
    val deleted = full.where(h >= lit(thr)).select("vec_id")
    idx.delete(deleted)
    val tServeTomb = serve()
    val leak = served().join(deleted.withColumnRenamed("vec_id", "n_id"), "n_id").count()
    idx.compact(nFiles = 8)
    val tServeTc = serve()
    full.unpersist()
    val ok = compacted && fpPre == fpPost && leak == 0L &&
      files100 >= files0 + batches && filesC <= 8
    println(s"""{"probe":"ivfingest","n":$n,"batches":$batches,""" +
      s""""batch_size":$batchSize,"build_sec":${f"$tBuild%.1f"},""" +
      s""""ingest_sec":${f"$tIngest%.1f"},""" +
      s""""files":{"base":$files0,"after100":$files100,"compacted":$filesC},""" +
      s""""serve_sec":{"b0":${f"$tServe0%.2f"},"b25":${f"${serveAt(25)}%.2f"},""" +
      s""""b50":${f"${serveAt(50)}%.2f"},"b100":${f"${serveAt(100)}%.2f"},""" +
      s""""compacted":${f"$tServeC%.2f"},"tombstoned":${f"$tServeTomb%.2f"},""" +
      s""""tomb_compacted":${f"$tServeTc%.2f"}},""" +
      s""""compact_sec":${f"$tCompact%.1f"},"fp_stable":${fpPre == fpPost},""" +
      s""""tomb_leak":$leak,"ok":$ok}""")
    if (!ok) System.err.println(s"[scaleprobe] ivfingest NOT ok: compacted=$compacted " +
      s"fp $fpPre/$fpPost leak=$leak files $files0/$files100/$filesC")
    ok
  }

  /** `curation` — the snapshot-diff + n-gram-novelty family at crawl
    * volume (the sf0.1 surface sees 5k docs; a re-crawl reconciliation
    * runs at millions). Synthetic corpus: `n` docs over 16 sources,
    * 17 words from a 50k-word rotating vocabulary (shared trigram mass —
    * the anti-join carries real overlap, not disjoint sets) plus ONE
    * unique trailing token per doc, which plants exactly one
    * guaranteed-novel trigram (the final window) in every document.
    * Gates:
    *  - the diff's statuses partition |v1 ∪ v2| exactly (set identity
    *    re-derived from the snapshot frames at volume);
    *  - added/removed land on the salted-bucket fractions by
    *    construction (exact counts, not tolerances);
    *  - novelty scores every non-reference doc, per-mille in range,
    *    and finds AT LEAST the planted trigram per scored doc.
    * The printed seconds are the scale claim: both are digest/hash
    * shapes (text never shuffles), so wall time tracks n linearly. */
  private def probeCuration(spark: org.apache.spark.sql.SparkSession, n: Long): Boolean = {
    val docs = spark.range(n).select(
      col("id").as("doc_id"),
      concat(lit("src"), pmod(col("id"), lit(16)).cast("string")).as("source"),
      expr("concat(array_join(transform(sequence(0, 16), " +
        "j -> concat('w', pmod(id * 31 + j * 7, 50021))), ' '), ' u', id)").as("text"))
    docs.cache(); docs.count()
    val v1 = graft.analytics.CurationAudit.snapshotV1(docs)
    val v2 = graft.analytics.CurationAudit.snapshotV2(docs)
    val (diff, tDiff) = timed {
      graft.analytics.CurationAudit.snapshotDiffOf(docs).collect()
    }
    val nTotal = diff.map(_.getLong(5)).sum
    val nAdded = diff.map(_.getLong(1)).sum
    val nRemoved = diff.map(_.getLong(2)).sum
    val union = v1.select("doc_id").union(v2.select("doc_id")).distinct().count()
    val wantAdded = v2.join(v1.select("doc_id"), Seq("doc_id"), "left_anti").count()
    val wantRemoved = v1.join(v2.select("doc_id"), Seq("doc_id"), "left_anti").count()
    val diffOk = nTotal == union && nAdded == wantAdded && nRemoved == wantRemoved
    val (nov, tNov) = timed {
      graft.analytics.CurationAudit.ngramNoveltyOf(docs)
        .agg(count(lit(1)), sum(col("n_novel")), sum(col("n_tri")),
          min(col("novelty_pm")), max(col("novelty_pm"))).head()
    }
    val nCand = docs.where(graft.analytics.Sampling.hashBucket(
      concat(lit("ref:"), col("doc_id").cast("string")), 1000) >= 100).count()
    val novOk = nov.getLong(0) == nCand &&
      nov.getLong(3) >= 0 && nov.getLong(4) <= 1000 &&
      nov.getLong(1) >= nCand // the planted unique-suffix trigram per doc
    docs.unpersist()
    val ok = diffOk && novOk
    println(s"""{"probe":"curation","n":$n,"diff_sec":${f"$tDiff%.1f"},""" +
      s""""union":$union,"added":$nAdded,"removed":$nRemoved,""" +
      s""""novelty_sec":${f"$tNov%.1f"},"scored":${nov.getLong(0)},""" +
      s""""novel_tris":${nov.getLong(1)},"total_tris":${nov.getLong(2)},""" +
      s""""diff_ok":$diffOk,"nov_ok":$novOk}""")
    if (!ok) System.err.println(s"[scaleprobe] curation FAILED: diff=$diffOk nov=$novOk")
    ok
  }

  /** Perceptual image-dedup probe ([[graft.analytics.Multimodal.dHash]] →
    * [[graft.analytics.Dedup.hash64Pairs]] → [[graft.analytics.Dedup
    * .dupClusters]], the `pipe_prep_mm` stage-2 chain) at synthetic
    * payload volume: n ~400-byte payloads (24 md5 blocks), every 100th
    * doc a PLANTED image near-dup of its successor — the successor's
    * bytes with ONE byte edited in place ('x' never appears in md5 hex),
    * which moves at most one pooled-luminance cell, so the dHash pair is
    * within the hamming-3 pigeonhole bound BY CONSTRUCTION and recovery
    * must be exact. Measures the three stages separately (the fingerprint
    * scan is the byte-volume-proportional part; pairs/clusters see only
    * 3 longs per doc) and reports any non-planted pair mass (near-dHash
    * coincidences of random payloads) rather than gating on it. */
  private def probePhash(spark: org.apache.spark.sql.SparkSession, n: Long): Boolean = {
    import graft.analytics.{Dedup, Multimodal}
    val base = """concat_ws(' ', transform(sequence(0, 23), j ->
        substring(md5(concat(cast(%ID% AS STRING), ':', cast(j AS STRING))), 1, 16)))"""
    val docs = spark.range(n).selectExpr("id AS doc_id",
      s"""CASE WHEN id % 100 = 0 AND id + 1 < $n
           THEN concat(substring(${base.replace("%ID%", "id + 1")}, 1, 50), 'x',
                       substring(${base.replace("%ID%", "id + 1")}, 52))
           ELSE ${base.replace("%ID%", "id")}
         END AS text""")
    val t0 = System.nanoTime()
    val sig = Dedup.materialized(Multimodal.dHash(spark, docs))
    val tSig = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val pairs = Dedup.materialized(
      Dedup.hash64Pairs(sig).select("doc_a", "doc_b"))
    val nPairs = pairs.count()
    val tPairs = (System.nanoTime() - t1) / 1e9
    val t2 = System.nanoTime()
    val keepers = Dedup.dupClusters(docs, pairs)
      .where(col("doc_id") === col("keeper")).count()
    val tClusters = (System.nanoTime() - t2) / 1e9
    val planted = docs.where(col("doc_id") % 100 === 0 && col("doc_id") + 1 < n)
      .select(col("doc_id").as("doc_a"), (col("doc_id") + 1).as("doc_b"))
    val plantedN = planted.count()
    val recovered = planted.join(pairs, Seq("doc_a", "doc_b"), "left_semi").count()
    val extras = nPairs - recovered
    val ok = recovered == plantedN && keepers <= n - plantedN
    println(s"""{"probe":"phash","n_docs":$n,"sig_sec":${f"$tSig%.1f"},""" +
      s""""pairs_sec":${f"$tPairs%.1f"},"clusters_sec":${f"$tClusters%.1f"},""" +
      s""""planted":$plantedN,"recovered":$recovered,"extra_pairs":$extras,""" +
      s""""keepers":$keepers,"ok":$ok}""")
    if (!ok) System.err.println(
      s"[scaleprobe] phash NOT ok: recovered=$recovered/$plantedN keepers=$keepers")
    ok
  }

  /** PCA-cascade probe ([[graft.analytics.Similarity.opqPcaView]] — the
    * r17 #5 rung) at synthetic volume: the SimilaritySpec oblique plant
    * scaled up via md5 closed forms — two strong off-axis directions
    * (u = all-ones, v = alternating at 0.7 amplitude) give a FLAT
    * per-dim variance profile (the natural gate must refuse — and at
    * 400k vectors its fit runs through the OpqFitCap hash sample, so
    * the guard is exercised where the test SFs cannot) while every
    * natural subspace sees a 2-D signal; the 12-round integer power
    * iteration then runs on the FULL corpus (no sampling — the probe's
    * real scale question: 12 sequential whole-corpus aggregates), the
    * Householder rotation axis-aligns u, the rotated gate must engage,
    * and the cascade's view must cut the PQ model's total quantization
    * error vs the natural view by ≥5% (it cuts far more — the
    * per-subspace codeword budget stops splitting across two strong
    * directions). Quantization error — Σ‖x − x̂‖² over the corpus — is
    * the quantity the allocation optimizes AND the right scale gauge:
    * at 400k vectors the 2-D signal manifold collapses thousands of
    * vectors onto identical codes, so a top-k recall comparison
    * degenerates into rounded-cosine tie-break noise for every rung
    * alike (measured: recall ~0–2% for pq AND pca — pure id-order
    * ties); the recall WIN is pinned where the geometry is
    * non-degenerate, on the SimilaritySpec plant. */
  private def probeOpqPca(spark: org.apache.spark.sql.SparkSession, n: Long): Boolean = {
    import graft.analytics.Similarity
    def md5unit(tag: String, key: String) =
      s"((cast(conv(substring(md5(concat('$tag', $key)), 1, 15), 16, 10) as long) % 2001) - 1000) / 1000.0D"
    val emb = spark.range(n)
      .select(col("id").as("vec_id"), expr(
        s"""transform(sequence(0, 63), d ->
           |  ${md5unit("g:", "cast(id as string)")} / 8.0D
           |  + (CASE WHEN d % 2 = 0 THEN 0.7D ELSE -0.7D END)
           |    * ${md5unit("h:", "cast(id as string)")} / 8.0D
           |  + ${md5unit("n:", "concat(cast(id as string), ':', cast(d as string))")} * 0.01D)""".stripMargin).as("e"))
    emb.cache().count()
    val (natEng, tNat) = timed { Similarity.opqPermutationEngaged(emb).isDefined }
    val ((w, den), tPca) = timed { Similarity.householderFit(emb) }
    val rot = Similarity.householderView(emb, w, den)
    val (rotPerm, tRot) = timed { Similarity.opqPermutationEngaged(rot) }
    val engaged = rotPerm.isDefined
    // total quantization error of the trained PQ model over each view:
    // train the codebooks on the view, encode, reconstruct, Σ‖x − x̂‖²
    def qerrOf(view0: DataFrame): Double = {
      // pin the computed view: the cascade's rotation is a derived
      // expression chain, and each Lloyd assignment round would re-run
      // it over the corpus from a raw plan
      val view = view0.cache(); view.count()
      try {
        val cb = Similarity.pqCodebooks(view)
        val recon = Similarity.pqCodes(view, cb)
          .withColumn("r", Similarity.pqReconCol(cb)).select("vec_id", "r")
        view.join(recon, "vec_id")
          .select(aggregate(zip_with(col("e"), col("r"), (x, y) => (x - y) * (x - y)),
            lit(0.0), (a, b) => a + b).as("e2"))
          .agg(sum("e2")).head().getDouble(0)
      } finally { view.unpersist(); () }
    }
    val (errPq, tPq) = timed { qerrOf(emb) }
    val (errPca, tPcaTrain) = timed { qerrOf(
      Similarity.withOpqPerm(rot, rotPerm.getOrElse(Array.tabulate(64)(identity)))) }
    emb.unpersist()
    val ok = !natEng && engaged && errPca < errPq * 0.95
    println(s"""{"probe":"opqpca","n_vecs":$n,"natfit_sec":${f"$tNat%.1f"},""" +
      s""""pcafit_sec":${f"$tPca%.1f"},"rotfit_sec":${f"$tRot%.1f"},""" +
      s""""nat_engaged":$natEng,"rot_engaged":$engaged,""" +
      s""""qerr_pq":${f"$errPq%.1f"},"qerr_pca":${f"$errPca%.1f"},""" +
      s""""pq_train_sec":${f"$tPq%.1f"},"pca_train_sec":${f"$tPcaTrain%.1f"},"ok":$ok}""")
    if (!ok) System.err.println(
      s"[scaleprobe] opqpca NOT ok: natEng=$natEng rotEng=$engaged errPq=$errPq errPca=$errPca")
    ok
  }

  /** Audio-fingerprint dedup probe (VERDICT r17 #4 — the one fingerprint
    * family without 1M-payload evidence): the [[graft.analytics
    * .Multimodal.aHash]] 65-window energy-envelope chain at synthetic
    * volume, through the SAME banded pair + cluster machinery as the
    * image twin. Every 100th doc is its successor's text with ONE
    * character substituted at a fixed position: the change lands in
    * exactly one of the 65 PCM energy windows, so at most the two
    * adjacent-window comparisons flip — a guaranteed hamming-≤2 audio
    * near-dup pair (inside [[graft.analytics.Dedup.hash64Pairs]]'
    * pigeonhole band, which recovers hamming ≤3 exactly), while the
    * texts stay distinct. Recovery of every planted pair is therefore a
    * correctness gate, not a statistic; extra pairs (random window-
    * envelope collisions) are reported, not failed. Timings split the
    * row-local fingerprint pass from the banded pair join and the
    * cluster fixpoint, mirroring [[probePhash]]. */
  private def probeAhash(spark: org.apache.spark.sql.SparkSession, n: Long): Boolean = {
    import graft.analytics.{Dedup, Multimodal}
    val base = """concat_ws(' ', transform(sequence(0, 23), j ->
        substring(md5(concat(cast(%ID% AS STRING), ':', cast(j AS STRING))), 1, 16)))"""
    val docs = spark.range(n).selectExpr("id AS doc_id",
      s"""CASE WHEN id % 100 = 0 AND id + 1 < $n
           THEN concat(substring(${base.replace("%ID%", "id + 1")}, 1, 50), 'x',
                       substring(${base.replace("%ID%", "id + 1")}, 52))
           ELSE ${base.replace("%ID%", "id")}
         END AS text""")
    val t0 = System.nanoTime()
    val sig = Dedup.materialized(Multimodal.aHash(spark, docs))
    val tSig = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val pairs = Dedup.materialized(
      Dedup.hash64Pairs(sig).select("doc_a", "doc_b"))
    val nPairs = pairs.count()
    val tPairs = (System.nanoTime() - t1) / 1e9
    val t2 = System.nanoTime()
    val keepers = Dedup.dupClusters(docs, pairs)
      .where(col("doc_id") === col("keeper")).count()
    val tClusters = (System.nanoTime() - t2) / 1e9
    val planted = docs.where(col("doc_id") % 100 === 0 && col("doc_id") + 1 < n)
      .select(col("doc_id").as("doc_a"), (col("doc_id") + 1).as("doc_b"))
    val plantedN = planted.count()
    val recovered = planted.join(pairs, Seq("doc_a", "doc_b"), "left_semi").count()
    val extras = nPairs - recovered
    val ok = recovered == plantedN && keepers <= n - plantedN
    println(s"""{"probe":"ahash","n_docs":$n,"sig_sec":${f"$tSig%.1f"},""" +
      s""""pairs_sec":${f"$tPairs%.1f"},"clusters_sec":${f"$tClusters%.1f"},""" +
      s""""planted":$plantedN,"recovered":$recovered,"extra_pairs":$extras,""" +
      s""""keepers":$keepers,"ok":$ok}""")
    if (!ok) System.err.println(
      s"[scaleprobe] ahash NOT ok: recovered=$recovered/$plantedN keepers=$keepers")
    ok
  }

  /** Semantic eval-decontamination probe ([[graft.analytics.Similarity
    * .semanticContaminationOf]], the `dedup_contam_semantic` chain) at
    * synthetic volume: n 64-dim md5-closed-form vectors, every 100th id
    * an EXACT copy of its predecessor (the classic leak — a verbatim
    * eval question in the train fold; identical vectors collide in
    * every LSH band, so recovery of the cross-fold planted pairs must
    * be exact). τ = 0.9 keeps random 64-dim cosines (σ ≈ 0.125, so
    * 0.9 ≈ 7σ) out of the verdict; bucket geometry widened to 16-bit
    * bands per the Of-form's scale note. Reports non-planted survivors
    * (near-τ coincidences) rather than gating on them. */
  /** OPQ fit + win at scale — [[graft.analytics.Similarity
    * .opqPermutation]]'s two scale claims, measured: (1) past the
    * OpqFitCap the variance fit runs on the deterministic hash sample
    * instead of overflowing the integer grid (this probe's n=1M ENGAGES
    * that guard — the oracle corpora never do); (2) on an anisotropic
    * corpus (dims 0-3 carry a 32-cluster signal, dims 4-63 are
    * 5%-amplitude noise — the natural-subspace-0-hoards-the-signal
    * worst case) the gate engages, the allocation spreads the signal
    * one dim per subspace, and the rotated rung's recall@5 against a
    * brute-force exact ground truth beats natural PQ. */
  private def probeOpq(spark: org.apache.spark.sql.SparkSession, n: Long): Boolean = {
    import graft.analytics.Similarity
    // CONTINUOUS per-vector signal (the SimilaritySpec plant at scale —
    // a clustered plant is degenerate here: same-cluster members
    // quantize to identical codes, every rotation ties, and top-k falls
    // to id order for PQ and OPQ alike)
    val emb = spark.range(n)
      .select(col("id").as("vec_id"), expr(
        """transform(sequence(0, 63), d ->
          |  ((cast(conv(substring(md5(concat('s:', cast(id as string), ':', cast(d as string))), 1, 15), 16, 10) as long) % 2001) - 1000)
          |  / CASE WHEN d < 4 THEN 1000.0D ELSE 20000.0D END)""".stripMargin).as("e"))
    emb.cache().count()
    val (perm, tFit) = timed { Similarity.opqPermutation(emb) }
    val engaged = !perm.zipWithIndex.forall { case (d, i) => d == i }
    val bijection = perm.toSet == (0 until 64).toSet
    val spread = (0 until 4).map(j => perm.indexOf(j) / 4).distinct.size == 4
    // brute-force exact ground truth for the 10 probe queries — the
    // documented quadratic baseline, bounded to nQueries x corpus
    val q = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("e").as("qe"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    val exact = emb.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(Similarity.cosine(col("qe"), col("e")), 4).as("cos"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5).select("q_id", "n_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(df: DataFrame): Double = {
      val got = df.select("q_id", "n_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact intersect got).size.toDouble / exact.size
    }
    val (rPq, tPq) = timed {
      recallOf(Similarity.annIvfPqOver(spark, emb, 10, 5, 16, 4)) }
    val (rOpq, tOpq) = timed {
      recallOf(Similarity.annIvfPqOver(spark,
        Similarity.withOpqPerm(emb, perm), 10, 5, 16, 4)) }
    emb.unpersist()
    val ok = engaged && bijection && spread && rOpq > rPq
    println(s"""{"probe":"opq","n_vecs":$n,"fit_sec":${f"$tFit%.1f"},""" +
      s""""engaged":$engaged,"spread":$spread,""" +
      s""""recall_pq_pm":${(rPq * 1000).round},"recall_opq_pm":${(rOpq * 1000).round},""" +
      s""""pq_sec":${f"$tPq%.1f"},"opq_sec":${f"$tOpq%.1f"},"ok":$ok}""")
    if (!ok) System.err.println(
      s"[scaleprobe] opq NOT ok: engaged=$engaged bij=$bijection spread=$spread rPq=$rPq rOpq=$rOpq")
    ok
  }

  private def probeContam(spark: org.apache.spark.sql.SparkSession, n: Long): Boolean = {
    import graft.analytics.{Dedup, Similarity}
    def md5unit(tag: String) =
      s"((cast(conv(substring(md5(concat('$tag', cast(bid as string), ':', cast(d as string))), 1, 15), 16, 10) as long) % 2001) - 1000) / 1000.0D"
    val emb = spark.range(n)
      .withColumn("bid", expr("CASE WHEN id % 100 = 1 THEN id - 1 ELSE id END"))
      .select(col("id").as("vec_id"),
        expr(s"transform(sequence(0, 63), d -> ${md5unit("v:")})").as("e"))
    emb.cache().count()
    val t0 = System.nanoTime()
    val out = Similarity.semanticContaminationOf(emb, threshold = 0.9,
      dims = 64, bands = 8, rowsPerBand = 16)
    val outM = Dedup.materialized(out)
    val nLeaks = outM.count()
    val wall = (System.nanoTime() - t0) / 1e9
    // ground truth: planted (a, a+1) pairs that cross the fold boundary,
    // oriented (train_doc, eval_doc)
    val folds = graft.analytics.Sampling.split(
      emb.select("vec_id"), col("vec_id")).select("vec_id", "fold")
    val planted = spark.range(n).where(col("id") % 100 === 1 && col("id") < n)
      .select((col("id") - 1).as("a"), col("id").as("b"))
      .join(folds.toDF("a", "fa"), "a").join(folds.toDF("b", "fb"), "b")
      .select(
        when(col("fa") === "train" && col("fb") =!= "train",
          struct(col("a").as("train_doc"), col("b").as("eval_doc")))
          .when(col("fb") === "train" && col("fa") =!= "train",
            struct(col("b").as("train_doc"), col("a").as("eval_doc")))
          .as("p"))
      .where(col("p").isNotNull).select("p.train_doc", "p.eval_doc")
    val plantedN = planted.count()
    val recovered = planted
      .join(outM, Seq("train_doc", "eval_doc"), "left_semi").count()
    val extras = nLeaks - recovered
    val ok = recovered == plantedN
    println(s"""{"probe":"contam","n_vecs":$n,"wall_sec":${f"$wall%.1f"},""" +
      s""""planted_crossfold":$plantedN,"recovered":$recovered,""" +
      s""""extra_pairs":$extras,"ok":$ok}""")
    if (!ok) System.err.println(
      s"[scaleprobe] contam NOT ok: recovered=$recovered/$plantedN")
    ok
  }

  def main(args: Array[String]): Unit = {
    val (which, nOpt) = args.toList match {
      case name :: num :: _ => (name, Some(num.toLong))
      case num :: Nil if num.forall(_.isDigit) => ("all", Some(num.toLong))
      case name :: Nil => (name, None)
      case Nil => ("all", None)
    }
    val spark = Sessions.local()
    def arm(name: String, size: Long): Boolean = name match {
      case "quartiles" => probeQuartiles(spark, size)
      case "asof" => probeAsOf(spark, size)
      case "clusters" => probeClusters(spark, size)
      case "ivfbalance" => probeIvfBalance(spark, size)
      case "substring" => probeSubstring(spark, size)
      case "semantic" => probeSemantic(spark, size)
      case "semtau" => probeSemTau(spark, size)
      case "semrecall" => probeSemRecall(spark, size)
      case "hybrid" => probeHybrid(spark, size)
      case "hybridreal" => probeHybridReal(spark)
      case "boost" => probeBoost(spark, size)
      case "bpe" => probeBpe(spark, size)
      case "projivf" => probeProjIvf(spark, size)
      case "overlap" => probeOverlap(spark, size)
      case "bpedeep" => probeBpeDeep(spark, size)
      case "chunk" => probeChunk(spark, size)
      case "cdc" => probeCdc(spark, size)
      case "pagerank" => probePagerank(spark, size)
      case "pagerankskew" => probePagerankSkew(spark, size)
      case "kmv" => probeKmv(spark, size)
      case "streamkeys" => probeStreamKeys(spark, size)
      case "streamhist" => probeStreamHist(spark, size)
      case "ivfingest" => probeIvfIngest(spark, size)
      case "mmr" => probeMmr(spark, size)
      case "dsir" => probeDsir(spark, size)
      case "curation" => probeCuration(spark, size)
      case "phash" => probePhash(spark, size)
      case "ahash" => probeAhash(spark, size)
      case "contam" => probeContam(spark, size)
      case "opq" => probeOpq(spark, size)
      case "opqpca" => probeOpqPca(spark, size)
      case other =>
        System.err.println(
          s"unknown arm '$other'; known arms: ${defaults.keysIterator.toSeq.sorted.mkString(", ")} (or 'all')")
        false
    }
    val ok = which match {
      case "all" =>
        // "all" runs every arm at its own default (one explicit n would
        // mis-size one family or the other)
        defaults.keysIterator.toSeq.sorted
          .map(a => arm(a, defaults(a))).forall(identity)
      case name =>
        val n = nOpt.orElse(defaults.get(name)).getOrElse(0L)
        // "hybridreal" is the only legitimately size-less arm (it reads
        // the real corpus); everywhere else n == 0 means a vacuous run
        // (0 planted / 0 recovered prints "ok") — fail loud instead.
        if (n == 0L && name != "hybridreal") {
          System.err.println(s"[scaleprobe] arm '$name' resolved to n=0 (no default, no explicit n) — refusing a vacuous run")
          false
        } else arm(name, n)
    }
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
