package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Hashes

/** Deduplication operators for the training-data pipeline track: exact,
  * n-gram Jaccard, MinHash+LSH, SimHash. All hashing is md5-derived
  * ([[Hashes]]) so every stage is deterministic and oracle-checkable.
  *
  * Scale design (the whole point of these ops at 100 TB):
  *  - exact dedup: one hash-shuffle on a 16-byte digest, not the text;
  *  - n-gram Jaccard: the shingle⋈shingle self-join is the classic
  *    blow-up — [[ngramJaccardPairs]] first drops shingles whose document
  *    frequency exceeds `maxDf` (stop-shingles contribute candidates but
  *    never high Jaccard), which bounds the per-shingle pair fan-out;
  *  - MinHash LSH: fixed 16-hash signature, 4 bands × 4 rows; candidate
  *    generation joins on (band, bandHash) buckets — the only quadratic
  *    step is within-bucket, and bucket size is bounded by collision
  *    probability, not corpus size;
  *  - SimHash: banded Hamming join (4 × 8-bit bands; pigeonhole: any pair
  *    within Hamming ≤ 3 of 32 bits shares at least one exact band).
  */
object Dedup {

  /** Word n-gram shingles (distinct per doc) of the raw text. */
  def shingles(docs: DataFrame, n: Int = 5): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .where(size(col("ws")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(ws) - ${n - 1}), i -> array_join(slice(ws, i, $n), ' '))"))
        .as("shingle"))
      .distinct()

  /** Shingles pre-hashed to the two independent 32-bit halves of ONE md5
    * (h1, h2): every downstream stage — distinct, document-frequency
    * counts, the candidate self-join, Jaccard verification, and the
    * Kirsch–Mitzenmacher min-hashes (h1 + j·h2) — becomes integer
    * arithmetic over 16-byte keys instead of ~50-byte shingle strings.
    * The distinct is taken AFTER hashing (mirrored in the oracle SQL) so
    * a 64-bit collision, however unlikely, cannot desync set sizes. */
  def shingleHashes(docs: DataFrame, n: Int = 5): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .where(size(col("ws")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(ws) - ${n - 1}), i -> array_join(slice(ws, i, $n), ' '))"))
        .as("shingle"))
      .select(col("doc_id"),
        conv(substring(md5(col("shingle")), 1, 8), 16, 10).cast("long").as("h1"),
        conv(substring(md5(col("shingle")), 9, 8), 16, 10).cast("long").as("h2"))
      .distinct()

  /** Cache AND eagerly materialize an intermediate the downstream plan
    * references several times (self-join sides, sizes, verification).
    * Lazy `.cache()` alone is not enough: when the first action runs, the
    * not-yet-populated cache appears in several concurrent stages, each
    * recomputing the subtree and racing to populate the same partitions —
    * measured ~4× slower than materialize-then-compose. At corpus scale
    * this is the persist/checkpoint step of a dedup run. (LRU-evicted, so
    * leaving entries cached across queries is safe.) */
  private[graft] def materialized(df: DataFrame): DataFrame = { df.cache().count(); df }

  /** Hashed shingles, cached + materialized (see [[materialized]]). */
  private def shinglesCached(docs: DataFrame, n: Int): DataFrame =
    materialized(shingleHashes(docs, n))

  private val HK = Seq("h1", "h2")

  /** Exact dedup: group on the md5 of normalized text; keeper = min doc_id.
    * The shuffle key is the digest, so payload size is constant. */
  def exact(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(TextAnalysis.normalized(col("text"))).as("h"))
      .groupBy("h")
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("n_copies"))

  /** N-gram Jaccard near-dup pairs: candidates share ≥1 shingle with
    * document frequency in [2, maxDf] (the stop-shingle guard bounds the
    * self-join fan-out and applies to CANDIDACY only), then each candidate
    * pair is verified by exact Jaccard over the FULL shingle sets — the same
    * candidate-driven verification [[minhashLshPairs]] uses, so the metric
    * is never distorted by the guard. */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 5, threshold: Double = 0.8,
                        maxDf: Long = 1000): DataFrame =
    verifiedPairs(docs, n, maxDf)
      .withColumn("jaccard",
        round(col("inter") / (col("n_a") + col("n_b") - col("inter")), 4))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "inter", "jaccard")

  /** Threshold-tuning sweep: pair and affected-document counts at several
    * Jaccard cutoffs from ONE verified-pairs pass — the table a curation
    * run reads to pick its dedup τ (how much mass each notch removes)
    * without re-running candidate generation per candidate threshold.
    * The sweep floor (min τ) bounds the single pass; each pair then
    * fans out to the thresholds it clears via an explode (scan-shaped —
    * no join against the τ list, so no nested-loop plan). Comparisons
    * ride the e4 integer grid of the already-4-dp-rounded metric. */
  def thresholdSweep(docs: DataFrame, n: Int = 5,
                     tausE4: Seq[Long] = Seq(7000L, 8000L, 9000L),
                     maxDf: Long = 1000): DataFrame = {
    val floor = tausE4.min / 10000.0
    val p = ngramJaccardPairs(docs, n, floor, maxDf)
      .select(col("doc_a"), col("doc_b"),
        round(col("jaccard") * 10000, 0).cast("long").as("j4"))
    p.select(explode(array(tausE4.map(lit(_)): _*)).as("tau_e4"),
        col("doc_a"), col("doc_b"), col("j4"))
      .where(col("j4") >= col("tau_e4"))
      .select(col("tau_e4"), explode(array(col("doc_a"), col("doc_b"))).as("d"))
      .groupBy("tau_e4")
      .agg(expr("count(1) div 2").as("n_pairs"),
        count_distinct(col("d")).as("n_docs"))
      .orderBy("tau_e4")
  }

  /** Containment near-dup pairs (overlap coefficient |A∩B| / min(|A|,|B|))
    * — catches the doc-in-doc duplication Jaccard misses: a page quoted
    * whole inside a larger one has low Jaccard (the big doc's extra
    * shingles dominate the union) but containment ≈ 1. Same candidate
    * generation and full-set verification as [[ngramJaccardPairs]]; only
    * the verified metric differs. */
  def containmentPairs(docs: DataFrame, n: Int = 5, threshold: Double = 0.9,
                       maxDf: Long = 1000): DataFrame =
    verifiedPairs(docs, n, maxDf)
      .withColumn("overlap",
        round(col("inter") / least(col("n_a"), col("n_b")), 4))
      .where(col("overlap") >= threshold)
      .select("doc_a", "doc_b", "inter", "overlap")

  /** Shared candidate + exact-verify stage of the shingle-set similarity
    * family: candidates share ≥1 shingle with document frequency in
    * [2, maxDf] (the stop-shingle guard bounds self-join fan-out and
    * applies to CANDIDACY only), then each pair's intersection is counted
    * over the FULL shingle sets, so any metric derived downstream is never
    * distorted by the guard. Returns (doc_a, doc_b, inter, n_a, n_b). */
  private def verifiedPairs(docs: DataFrame, n: Int, maxDf: Long): DataFrame = {
    val sh = shinglesCached(docs, n)
    // stop-shingle guard (scale) as a WINDOW count over the shingle key
    // (OPTIMIZATION r19, the capBuckets recipe): the groupBy + join-back
    // form shuffled the shingle frame twice and joined back a
    // duplicated-shingle side that does not broadcast at corpus scale;
    // one shuffle, same rows (df in [2, maxDf] — df=1 can't pair).
    // Materialized because the self-join below reads it twice.
    val dfW = org.apache.spark.sql.expressions.Window.partitionBy(HK.map(col): _*)
    val shF = materialized(
      sh.withColumn("__df", count(lit(1)).over(dfW))
        .where(col("__df") <= maxDf && col("__df") >= 2)
        .drop("__df"))
    val cand = shF.as("a").join(shF.as("b"),
        col("a.h1") === col("b.h1") && col("a.h2") === col("b.h2") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = cand
      .join(sh.toDF("doc_a", "h1", "h2"), "doc_a")
      .join(sh.toDF("doc_b", "h1", "h2"), Seq("doc_b", "h1", "h2"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
  }

  /** MinHash signatures: numHashes Kirsch–Mitzenmacher min-hashes
    * (h_j = h1 + j·h2 over [[shingleHashes]] — one md5 per shingle total,
    * not per hash function) over the shingle set, as flat columns
    * mh0..mh{k-1}. Computed as min aggregates — one shuffle on doc_id, no
    * explode of the hash index, and the aggregate itself is pure integer
    * arithmetic. */
  def minhashSignatures(docs: DataFrame, n: Int = 5, numHashes: Int = 16): DataFrame =
    signaturesFrom(shingleHashes(docs, n), numHashes)

  private def signaturesFrom(sh: DataFrame, numHashes: Int): DataFrame = {
    val aggs = (0 until numHashes).map(j =>
      min(col("h1") + lit(j.toLong) * col("h2")).as(s"mh$j"))
    sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** Cap LSH bucket sizes before a bucket self-join: a degenerate corpus
    * (mass-duplicated boilerplate) can put thousands of docs in one
    * bucket, and the within-bucket join is quadratic — one hot bucket at
    * 100 TB is the job-killer. Buckets above `maxBucket` are dropped from
    * CANDIDACY only (documented recall trade, same shape as the ngram
    * stop-shingle guard); verification stays exact. Defaults are far
    * above anything the test corpora produce, so oracle parity holds. */
  private def capBuckets(banded: DataFrame, bucketCols: Seq[String],
                         maxBucket: Long): DataFrame = {
    if (maxBucket == Long.MaxValue) banded
    else {
      // window count over the bucket key: ONE shuffle on the same key the
      // self-join needs anyway (vs groupBy + join back = two stages); no
      // ordering, so no sort — just a per-partition count
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(bucketCols.map(col): _*)
      banded.withColumn("__bs", count(lit(1)).over(w))
        .where(col("__bs") <= maxBucket).drop("__bs")
    }
  }

  /** MinHash-LSH near-dup pairs: band the signature (bands × rowsPerBand =
    * numHashes), bucket-join on (band, row values), then verify candidates
    * with exact Jaccard ≥ threshold. The bucket key is the band's RAW
    * minhash values — hashing them first (md5 of a concat) adds string
    * codegen and loses nothing: equality on the tuple IS the band match. */
  def minhashLshPairs(docs: DataFrame, n: Int = 5, threshold: Double = 0.8,
                      bands: Int = 4, rowsPerBand: Int = 4,
                      maxBucket: Long = 100000L): DataFrame = {
    val sh = shinglesCached(docs, n)
    // the banded self-join reads the signature relation from both sides,
    // and the 16-way min-hash aggregate is the expensive stage
    val sig = materialized(signaturesFrom(sh, bands * rowsPerBand))
    val keyCols = (0 until rowsPerBand).map(r => s"k$r")
    val banded = capBuckets(
      sig.select(col("doc_id"), explode(array((0 until bands).map { b =>
        val fields = lit(b).as("band") +:
          (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}").as(s"k$r"))
        struct(fields: _*)
      }: _*)).as("bb")).select(col("doc_id") +: ("band" +: keyCols).map(f => col(s"bb.$f")): _*),
      "band" +: keyCols, maxBucket)
    val bandEq = ("band" +: keyCols)
      .map(c => col(s"a.$c") === col(s"b.$c")).reduce(_ && _)
    val cand = banded.as("a").join(banded.as("b"),
        bandEq && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = cand
      .join(sh.toDF("doc_a", "h1", "h2"), "doc_a")
      .join(sh.toDF("doc_b", "h1", "h2"), Seq("doc_b", "h1", "h2"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("jaccard",
        round(col("inter") / (col("n_a") + col("n_b") - col("inter")), 4))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** 32-bit SimHash per document: token-frequency-weighted sign sum over
    * the bits of each token's 32-bit md5 hash. One explode over tokens,
    * one shuffle on doc_id with 32 conditional sums. */
  def simhash(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
      .withColumn("h", Hashes.md5Long32(col("w")))
    val bitSums = (0 until 32).map(b =>
      sum((shiftright(col("h"), b).bitwiseAND(1) * 2 - 1) * col("cnt")).as(s"s$b"))
    val perDoc = toks.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val hashCol = (0 until 32).map(b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(0L)).reduce(_ + _)
    perDoc.select(col("doc_id"), hashCol.as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming, found via
    * banded join (4 bands of 8 bits; pigeonhole guarantees recall for
    * maxHamming ≤ 3). The quadratic step is within (band, bandValue)
    * buckets only. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   maxBucket: Long = 100000L): DataFrame = {
    val sh = materialized(simhash(docs)) // self-joined below: hash once, read twice
    val banded = capBuckets(
      sh.select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map(p =>
          struct(lit(p).as("band"),
            shiftright(col("simhash"), p * 8).bitwiseAND(0xFF).as("bv"))): _*)).as("bb"))
        .select(col("doc_id"), col("simhash"), col("bb.band"), col("bb.bv")),
      Seq("band", "bv"), maxBucket)
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Banded-Hamming near-dup pairs over a 64-bit fingerprint carried as
    * TWO 32-bit halves `(doc_id, h0, h1)` — the [[simhashPairs]] bucket
    * machinery generalized to a caller-computed hash (the perceptual
    * image dHash, [[Multimodal.dHash]], is the first consumer): 4 bands
    * of 16 bits, so the pigeonhole guarantees full recall for
    * `maxHamming ≤ 3`; the quadratic step is within (band, value)
    * buckets only, capped like every LSH family member — never
    * all-pairs. Two positive 32-bit halves instead of one signed 64-bit
    * value so the oracle's integer arithmetic (`xor`/`bit_count` on
    * BIGINT) never touches the sign bit. */
  /** The 4×16-bit band fan-out over a `(doc_id, h0, h1)` fingerprint
    * frame — ONE body shared by [[hash64Pairs]]' bucket self-join and
    * the incremental face's resident×increment join
    * ([[Multimodal.phashIncrQuery]]), so the band geometry cannot drift
    * between consumers (their oracles share `mmBandCtes` the same way). */
  private[analytics] def banded16(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), col("h0"), col("h1"),
      explode(array(
        struct(lit(0).as("band"), col("h0").bitwiseAND(lit(0xFFFFL)).as("bv")),
        struct(lit(1).as("band"), shiftright(col("h0"), 16).as("bv")),
        struct(lit(2).as("band"), col("h1").bitwiseAND(lit(0xFFFFL)).as("bv")),
        struct(lit(3).as("band"), shiftright(col("h1"), 16).as("bv")))).as("bb"))
      .select(col("doc_id"), col("h0"), col("h1"), col("bb.band"), col("bb.bv"))

  def hash64Pairs(sig: DataFrame, maxHamming: Int = 3,
                  maxBucket: Long = 100000L): DataFrame = {
    val sh = materialized(sig) // self-joined below: hash once, read twice
    val banded = capBuckets(banded16(sh), Seq("band", "bv"), maxBucket)
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (bit_count(col("a.h0").bitwiseXOR(col("b.h0"))) +
          bit_count(col("a.h1").bitwiseXOR(col("b.h1")))).cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Connected components over a near-dup pair list: every document maps
    * to its cluster KEEPER (the minimum doc_id reachable through dup
    * edges; docs in no pair keep themselves). This is the resolution step
    * a dedup pipeline runs after pair generation — "of these k mutual
    * near-dups, keep one".
    *
    * Algorithm: iterative min-label propagation with path halving — each
    * round every node takes the min label among itself, its neighbors,
    * and its keeper's keeper, so rounds = O(log diameter) (near-dup
    * cluster diameters are tiny anyway: dups of one source document form
    * near-cliques). Per-round work is two joins + one aggregate on
    * (node, label) pairs — the shape that scales: no component is ever
    * collected to one task, let alone the driver. */
  /** The persisted RDD behind a `localCheckpoint`ed frame (its analyzed
    * plan is a single LogicalRDD leaf) — the handle needed to free the
    * checkpoint's blocks eagerly; `DataFrame.unpersist` cannot reach them
    * (they live at the RDD layer, not in the cacheManager). */
  private def checkpointRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  /** Default for [[dupClusters]]' `localEdgeLimit`. NOTE the limit
    * applies to the DIRECTED edge list (each undirected pair is counted
    * twice by the union below), so the effective undirected-pair cap is
    * HALF this value: 2^19 pairs ≈ 8 MB of long pairs to the driver fast
    * path. */
  private val DefaultLocalEdgeLimit: Long = 1L << 20

  def dupClusters(docs: DataFrame, pairs: DataFrame,
                  localEdgeLimit: Long = DefaultLocalEdgeLimit): DataFrame = {
    val labels = dupLabels(pairs, localEdgeLimit)
    docs.select(col("doc_id"))
      .join(labels.withColumnRenamed("keeper", "__k"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("__k"), col("doc_id")).as("keeper"))
  }

  /** The converged (doc_id, keeper) labels of the EDGE-TOUCHED subgraph
    * only — [[dupClusters]] minus the singleton-attach join. Split out
    * (OPTIMIZATION r19) so consumers that already hold a corpus-keyed
    * frame ([[keepBest]]'s quality scores) can attach keepers with ONE
    * left join against this subgraph-sized side instead of joining two
    * corpus-sized frames. */
  private[analytics] def dupLabels(pairs: DataFrame,
                                   localEdgeLimit: Long = DefaultLocalEdgeLimit): DataFrame = {
    // localCheckpoint (eager), NOT cache: an iterative dataflow's logical
    // plan grows exponentially round-over-round if each round's plan
    // embeds the last (cache leaves lineage in place); checkpointing
    // truncates it. On a cluster this is `checkpoint()` against reliable
    // storage — same shape.
    // lazy checkpoint: the count below materializes edges in ONE job
    // (pair generation runs once); eager would pay a separate job
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint(false)
    val spark = pairs.sparkSession
    // one action: runs pair generation, fills the checkpoint and sizes
    // the path choice below
    val nEdges = edges.count()
    def labelSum(df: DataFrame): Long = // coalesce: sum of zero rows is NULL
      df.agg(coalesce(sum("keeper"), lit(0L))).head().getLong(0)
    var labels: DataFrame = null
    var converged = false
    var rounds = 0
    // Small-subgraph fast path: near-dup pair graphs are normally tiny
    // relative to the corpus (rare dups, near-clique clusters), and the
    // iterative rounds then cost pure job-launch latency (~1 s/round on
    // local[32] — 7+ rounds measured at sf0.1 for a few-thousand-edge
    // subgraph). Below a bounded size, collect the checkpointed edge list
    // ONCE (reads checkpoint blocks, no upstream recompute; ≤16 MB of
    // longs at the default cap — the same order as Spark's own broadcast
    // threshold) and solve exactly with driver-side union-find, then
    // broadcast the labels back. This is a size-GUARDED specialization,
    // same spirit as AQE's broadcast-join demotion: the distributed
    // halving rounds below remain the path for genuinely large subgraphs.
    if (nEdges <= localEdgeLimit) {
      val es = edges.where(col("src") < col("dst"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      // union-find, min id as root (keeper = min reachable id — the same
      // fixpoint the propagation rounds converge to), path compression
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (c != r) { val nxt = parent(c); parent.update(c, r); c = nxt }
        r
      }
      es.foreach { case (a, b) =>
        val ra = find(a); val rb = find(b)
        if (ra != rb) {
          if (ra < rb) parent.update(rb, ra) else parent.update(ra, rb)
        }
      }
      val nodes = es.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
      labels = broadcast(
        spark.createDataFrame(nodes.iterator.map(n => (n, find(n))).toSeq)
          .toDF("doc_id", "keeper"))
      converged = true
    } else {
    // propagate over the edge-touched subgraph only: in a real corpus the
    // overwhelming majority of documents are in NO near-dup pair, and
    // iterating their unchanging self-labels every round is pure waste —
    // singletons are attached in one join after convergence.
    labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("keeper", col("doc_id"))
      .localCheckpoint(false)
    // labels only ever decrease, so the fixpoint test is one aggregate:
    // the label sum is strictly monotone until convergence.
    var prevSum = labelSum(labels)
    // with path halving each round covers ~2^round hops, so 50 rounds
    // bounds component diameter at ~2^50 — unreachable in practice; a
    // non-converged exit would mean a logic error and must fail loudly
    // rather than return silently split clusters
    val maxRounds = 50
    while (!converged && rounds < maxRounds) {
      val viaNeighbors = edges.join(labels, edges("dst") === labels("doc_id"))
        .select(edges("src").as("doc_id"), col("keeper"))
      // oneHop is read from BOTH sides of the halving self-join: persist
      // (not checkpoint) so the union+groupBy computes once inside the
      // round's single job — cache, join, aggregate all materialize under
      // ONE action (the labelSum below), where the old shape paid a
      // separate eager-checkpoint job first (VERDICT r2 next #7). Lineage
      // still stays bounded: `labels` itself is checkpointed every round.
      val oneHop = labels.select(col("doc_id"), col("keeper")).union(viaNeighbors)
        .groupBy("doc_id").agg(min("keeper").as("keeper")).persist()
      // path halving (pointer jumping): follow keeper -> keeper's keeper,
      // so labels cross 2^round hops instead of `round` hops — a
      // diameter-d chain converges in O(log d) rounds, not d (measured
      // 10 -> 7 on the sf0.01 corpus). Keepers are always subgraph node
      // ids, so the self-join is total.
      val hop = oneHop.withColumnRenamed("doc_id", "__via").withColumnRenamed("keeper", "__k2")
      val hop2 = oneHop.withColumnRenamed("doc_id", "__via2").withColumnRenamed("keeper", "__k3")
      // two pointer jumps per round (keeper -> keeper² -> keeper³): each
      // extra jump is one more broadcast-sized join against the SAME
      // persisted oneHop, and round coverage goes from 2^r to ~3^r hops —
      // fewer round barriers (job launches dominate at small scale, and
      // each barrier is a full cluster sync at large scale). Jump 2 keys
      // on the min of jump 1, so the chain composes. NOTE measured limit:
      // do NOT add more jumps — every reference to the not-yet-materialized
      // persisted oneHop races its own recomputation of the ENTIRE
      // upstream (pair generation included) inside the round's one job;
      // at 3 references the race is masked, at 5 it blew the embedding
      // clusters query from 8 s to 240+ s. More jumps would first need an
      // eager oneHop materialization (a second action per round).
      val j1 = oneHop.join(hop, oneHop("keeper") === hop("__via"))
        .select(col("doc_id"), least(col("keeper"), col("__k2")).as("keeper"))
      // lazy checkpoint: the convergence aggregate right below is the ONE
      // action of the round — it materializes the checkpoint and computes
      // the fixpoint test in the same job
      val next = j1.join(hop2, j1("keeper") === hop2("__via2"))
        .select(col("doc_id"), least(col("keeper"), col("__k3")).as("keeper"))
        .localCheckpoint(false)
      val s = labelSum(next)
      oneHop.unpersist()
      converged = s == prevSum
      prevSum = s
      // the superseded round's checkpoint blocks are dead the moment
      // `next` is materialized (the labelSum action above) — free them
      // NOW instead of waiting for the ContextCleaner's GC-driven sweep:
      // over many rounds the un-collected checkpoints would otherwise
      // stack up to O(rounds × subgraph) storage
      val superseded = labels
      labels = next
      checkpointRdd(superseded).foreach(_.unpersist(blocking = false))
      rounds += 1
    }
    if (!converged) throw new IllegalStateException(
      s"dupClusters did not converge in $maxRounds halving rounds " +
        "(diameter ~2^50) — this indicates a propagation logic error")
    } // end distributed path
    // the edge list is dead once propagation converges (the result below
    // only joins labels back to docs) — free its checkpoint now. The FINAL
    // labels checkpoint must outlive this method (the returned frame reads
    // it lazily); callers that run many queries in one session (Verify,
    // Bench) unpersist all registered RDDs after materializing each result,
    // which reclaims it — the ContextCleaner's GC sweep is the fallback.
    checkpointRdd(edges).foreach(_.unpersist(blocking = false))
    labels
  }

  /** Benchmark decontamination — the exact n-gram overlap check run
    * before any evaluation: an eval document sharing ANY `n`-token gram
    * with a training document is contaminated (the GPT-3-style 13-gram
    * rule; near-dup leakage is the SOFTER check in [[foldLeakageQuery]]).
    * Shape: one exploded (gram-hash, doc, fold) projection, grams
    * de-duplicated per doc, then a hash-keyed self-join filtered to
    * train × non-train — only 8-byte gram hashes shuffle, never text,
    * and the train side can be a broadcast-able bloom/set at corpus
    * scale. */
  def ngramContamination(docs: DataFrame, folds: DataFrame, n: Int = 13): DataFrame =
    contaminationPairs(docs, folds, n)
      .groupBy("eval_doc", "eval_fold")
      .agg(countDistinct("gh").as("n_shared_grams"),
        min("train_doc").as("sample_train_doc"))
      .orderBy("eval_doc")

  /** The raw contamination pair frame behind [[ngramContamination]]
    * — one row per (shared gram hash, train doc, eval doc). Exposed so
    * composed pipelines ([[PrepPipeline]]) can resolve contamination
    * from the TRAIN side (drop leaking train docs) as well as the eval
    * side the aggregate reports. */
  def contaminationPairs(docs: DataFrame, folds: DataFrame, n: Int = 13): DataFrame = {
    val grams = docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("ws"))
      .where(size(col("ws")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(ws) - ${n - 1}), i -> array_join(slice(ws, i, $n), ' '))"))
        .as("gram"))
      .select(col("doc_id"), Hashes.md5Long60(col("gram")).as("gh"))
      .distinct()
      .join(folds, "doc_id")
    val train = grams.where(col("fold") === "train")
      .select(col("gh"), col("doc_id").as("train_doc"))
    val eval_ = grams.where(col("fold") =!= "train")
      .select(col("gh"), col("doc_id").as("eval_doc"), col("fold").as("eval_fold"))
    eval_.join(train, "gh")
  }

  /** Quality-aware cluster canonicalization — "keep BEST, not first":
    * [[dupClusters]] labels every document with its component's min id,
    * but real corpus dedup (e.g. the FineWeb / RefinedWeb pipelines)
    * keeps the highest-QUALITY member of each near-dup cluster, not an
    * arbitrary one — the verbatim copy on a clean page beats the same
    * text wrapped in boilerplate. Composes the cluster labels with
    * [[TextAnalysis.qualityScore]]: argmax quality per cluster, ties
    * broken by smaller doc_id so selection is total and deterministic.
    *
    * Scale shape: the cluster resolution is [[dupClusters]]' bounded
    * label propagation; the selection adds ONE partitioned window over
    * (cluster) — co-partitioned rows, no global sort — and the quality
    * score is a scan-speed projection. Nothing here re-shuffles text. */
  def keepBest(docs: DataFrame, pairs: DataFrame): DataFrame = {
    // OPTIMIZATION r19 (guide §2.4): attach keepers to the quality frame
    // with ONE left join against the subgraph-sized label set instead of
    // first building corpus-wide clusters and re-joining them to the
    // corpus-wide scores on doc_id (two corpus-sized SMJ sides, two
    // exchanges). Row-identical: quality scores cover every doc, and
    // coalesce(label, doc_id) is exactly dupClusters' singleton attach.
    val labels = dupLabels(pairs)
    val scored = TextAnalysis.qualityScore(docs).select(col("doc_id"), col("quality"))
    val byCluster = Window.partitionBy("keeper")
    scored.join(labels.withColumnRenamed("keeper", "__k"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("__k"), col("doc_id")).as("keeper"), col("quality"))
      .withColumn("rn", // nulls-last made EXPLICIT: engines disagree on the default
        row_number().over(byCluster.orderBy(col("quality").desc_nulls_last, col("doc_id"))))
      .withColumn("n_members", count(lit(1)).over(byCluster))
      .where(col("rn") === 1)
      .select(col("keeper").as("cluster"), col("doc_id").as("best_doc_id"),
        col("quality").as("best_quality"), col("n_members"))
  }

  /** Duplicate-aware SOFT dedup — reweight instead of remove (SoftDedup,
    * arXiv:2407.06654: hard removal throws away the signal that duplicated
    * content is often high-demand content; down-weighting keeps every
    * document trainable while equalizing each near-dup cluster's total
    * gradient mass). The simplest principled instantiation: every member
    * of a resolved near-dup cluster gets weight 1/|cluster| so each
    * cluster — not each copy — contributes unit sampling mass
    * (Σ weights = number of clusters, the law `ReweightSpec` pins).
    *
    * Scale shape: [[dupClusters]]' resolution (subgraph-sized shuffles)
    * plus ONE window over `keeper` — the cluster key the resolution
    * already co-partitioned by. Singleton documents (the overwhelming
    * mass at corpus scale) pass through at weight 1.0 untouched. */
  def reweight(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val clusters = dupClusters(docs, pairs) // (doc_id, keeper)
    clusters
      .withColumn("cluster_size", count(lit(1)).over(Window.partitionBy("keeper")))
      .select(col("doc_id"), col("keeper").as("cluster"), col("cluster_size"),
        round(lit(1.0) / col("cluster_size"), 6).as("weight"))
  }

  // -- cross-document exact-substring duplication --

  /** Character k-gram start positions fingerprinted with the engine-
    * portable 60-bit md5 ([[Hashes.md5Long60]]): one row per (doc, pos);
    * only (doc_id, pos, digest) ever leaves the scan — the text itself
    * is never shuffled. */
  private def charGrams(docs: DataFrame, k: Int): DataFrame =
    docs.where(length(col("text")) >= k)
      .select(col("doc_id"),
        explode(sequence(lit(0), length(col("text")) - k)).as("pos"),
        col("text"))
      .select(col("doc_id"), col("pos"),
        Hashes.md5Long60(expr(s"substring(text, pos + 1, $k)")).as("g"))

  /** Cross-document exact-substring duplication — the substring-level
    * dedup signal of Lee et al., "Deduplicating Training Data Makes
    * Language Models Better" (2022), re-expressed Spark-first: instead of
    * a corpus-wide suffix array (a single-machine construction), every
    * character `k`-gram start position is fingerprinted at the scan, a
    * digest whose gram occurs in ≥ 2 DISTINCT documents marks its
    * positions as duplicated, and maximal runs of consecutive duplicated
    * positions within a document merge into spans `[start, last + k)` —
    * a run of `m` consecutive duplicated k-gram starts is exactly a
    * duplicated substring of length `m + k - 1`.
    *
    * Scale shape: the only wide stages key on the 8-byte digest
    * (duplicated-gram detection, then the hit join — AQE reuses the
    * exchange since both key on `g`) and on doc_id (the per-doc island
    * window, partitioned so no global sort). Payload is constant-width;
    * this is the stride-1 EXACT form — [[substringWinnowPairs]] is the
    * winnowed scale path that shuffles ~2/(w+1) of these rows.
    *
    * Spans are maximal contiguous duplicated CHARACTER regions: two
    * duplicated-position runs whose extents `[start, last + k)` overlap
    * or touch (position gap ≤ k) merge into one span, so spans are
    * disjoint and `dup_chars` is the exact count of duplicated characters
    * — never more than the document length (VERDICT r7 ADVICE: the old
    * run-per-consecutive-positions islands double-counted overlaps).
    *
    * Output per affected document: span count, total duplicated chars,
    * longest span. */
  def substringSpans(docs: DataFrame, k: Int = 20): DataFrame = {
    // "≥ 2 distinct docs" ⇔ min(doc_id) ≠ max(doc_id): cheaper than a
    // count-distinct and identical semantics. Detection as a per-gram
    // window (OPTIMIZATION r19 — see [[substringCut]]): one shuffle of
    // the gram frame instead of groupBy + hit join, no checkpoint needed.
    val byG = Window.partitionBy("g")
    val hits = charGrams(docs, k)
      .withColumn("__mn", min("doc_id").over(byG))
      .withColumn("__mx", max("doc_id").over(byG))
      .where(col("__mn") =!= col("__mx"))
      .select("doc_id", "pos")
    val spans = mergedIntervals(hits, k)
    spans.groupBy("doc_id").agg(
      count(lit(1)).as("n_spans"),
      sum(col("e") - col("s")).cast("long").as("dup_chars"),
      max(col("e") - col("s")).cast("long").as("max_span"))
  }

  /** Merge a (doc_id, pos) frame of k-gram start positions into DISJOINT
    * character intervals `(doc_id, s, e)`: two positions p < p' belong to
    * the same interval iff their extents `[p, p+k)` and `[p', p'+k)`
    * chain through overlapping-or-touching extents (break when the
    * position gap exceeds k). One partitioned window (lag + running sum,
    * same (doc_id, pos) ordering for both frames → single window exec),
    * then a co-partitioned aggregate — no global sort. */
  private def mergedIntervals(hits: DataFrame, k: Int): DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    hits
      .withColumn("__prev", lag("pos", 1).over(byDoc))
      .withColumn("__brk",
        when(col("__prev").isNull || col("pos") - col("__prev") > k, 1).otherwise(0))
      .withColumn("__grp", sum("__brk").over(byDoc))
      .groupBy("doc_id", "__grp")
      .agg(min("pos").as("s"), (max(col("pos")) + lit(k)).as("e"))
      .select("doc_id", "s", "e")
  }

  /** Substring EXCISION — the operator that finishes the Lee et al.
    * (2022) loop: [[substringSpans]] reports cross-document duplicated
    * spans; this emits the CLEANED CORPUS with the non-canonical copies
    * cut out. Per duplicated k-gram the canonical copy is the one in the
    * smallest doc_id containing it (first occurrence wins); every
    * occurrence in a higher doc_id is a cut position. Cut positions merge
    * into disjoint character intervals exactly like the spans
    * ([[mergedIntervals]] — overlap merging is REQUIRED here, else
    * reassembly would drop characters twice), and each document's
    * surviving text is the concatenation of the kept islands between cut
    * intervals.
    *
    * Within-document repetition is deliberately NOT cut: the duplication
    * signal is cross-document (same as [[substringSpans]]); intra-doc
    * repeats are a different signal ([[TextAnalysis.repetitionQuery]]).
    * A cut can destroy a canonical occurrence too (doc B keeps gram g2
    * but an overlapping cut for g1 removes part of it) — conservative
    * over-deletion, the trade Lee et al. make as well; what can NEVER
    * survive is a k-gram shared by two output documents that both carried
    * it in the input (SubstringCutSpec reruns [[substringSpans]] on the
    * output and asserts empty).
    *
    * Scale shape: identical wide stages to [[substringSpans]] (digest-
    * keyed detection + hit join, doc-keyed interval window); the
    * reassembly is ONE per-doc fold over the collected interval list
    * (≤ len/k entries — the same bounded per-doc state as any windowed
    * operator) against the text already resident in the row: text is
    * never shuffled, only (doc_id, pos) pairs and the final output.
    *
    * Output: (doc_id, text, n_cuts, cut_chars) — the cleaned corpus,
    * untouched documents passing through with n_cuts = 0. */
  def substringCut(docs: DataFrame, k: Int = 20): DataFrame = {
    // OPTIMIZATION r19 (guide §2.4): owner detection as a per-gram WINDOW
    // instead of groupBy + hit join — the join re-shuffled the
    // corpus-character-sized gram frame a second time (the groupBy's
    // partial-agg exchange and the SMJ's raw exchange are different
    // subtrees, so neither plain ReuseExchange nor AQE dedups them) and
    // forced [[charGrams]] through a checkpoint to avoid recomputing the
    // stride-1 md5 pass. One shuffle by `g`, same rows: "own ≠ mx" ⇔
    // ≥ 2 distinct docs, and the non-owner filter is row-local.
    val byG = Window.partitionBy("g")
    val cuts = charGrams(docs, k)
      .withColumn("__own", min("doc_id").over(byG))
      .withColumn("__mx", max("doc_id").over(byG))
      .where(col("__own") =!= col("__mx") && col("doc_id") =!= col("__own"))
      .select("doc_id", "pos")
    val ivs = mergedIntervals(cuts, k)
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("ivs"),
        count(lit(1)).as("n_cuts"))
    // fold the kept islands left-to-right: state = (chars consumed so far,
    // accumulated clean text); finish with the tail after the last cut.
    // Intervals are disjoint with strictly positive gaps (merged above),
    // so every substring length is >= 0 and 1-based arithmetic is total.
    val clean = expr(
      """aggregate(ivs, named_struct('p', 0, 'acc', ''),
        |  (st, iv) -> named_struct('p', iv.e,
        |    'acc', concat(st.acc, substring(text, st.p + 1, iv.s - st.p))),
        |  st -> concat(st.acc, substring(text, st.p + 1, length(text))))""".stripMargin)
    docs.join(ivs, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("ivs").isNull, col("text")).otherwise(clean).as("clean_text"),
        coalesce(col("n_cuts"), lit(0L)).as("n_cuts"),
        col("text"))
      .select(col("doc_id"), col("clean_text").as("text"), col("n_cuts"),
        (coalesce(length(col("text")), lit(0)) -
          coalesce(length(col("clean_text")), lit(0))).cast("long").as("cut_chars"))
  }

  /** Positions in a doc may not exceed 2^20 (1 MiB of text) so the
    * winnowing sort key (g mod 2^40)·2^20 + pos stays inside a signed
    * 64-bit in every engine; longer docs should be chunked upstream
    * ([[TextAnalysis.chunkQuery]] is the chunker). */
  private val PosBits = 20

  /** Winnowed fingerprint selection (Schleimer–Wilkerson–Aiken, "Winnowing:
    * Local Algorithms for Document Fingerprinting", SIGMOD 2003 — the MOSS
    * algorithm): from each window of `w` consecutive character-k-gram
    * digests keep the minimum (ties broken by position via the combined
    * sort key, so selection is deterministic and oracle-replayable).
    * Guarantee: two documents sharing a substring of ≥ k + w - 1 chars
    * share at least one selected fingerprint; expected density ~2/(w+1).
    *
    * The selection runs ROW-LOCALLY with higher-order functions on the
    * text column — no explode, no shuffle, no per-doc window exec: at
    * corpus scale only the selected fingerprints (a ~2/(w+1) sample of
    * positions) ever leave the scan, vs every position in the exact form.
    * O(n·w) array_min/slice per doc, all inside whole-stage codegen. */
  def winnowedFingerprints(docs: DataFrame, k: Int = 20, w: Int = 8): DataFrame = {
    require(k >= 1 && w >= 2, s"need k >= 1 and w >= 2; got k=$k, w=$w")
    val gMod = 1L << 40  // 40 digest bits + 20 position bits < 2^63
    val posMod = 1L << PosBits
    // gs: the 60-bit digest at every gram start (0-based position = index)
    val gs =
      s"""transform(sequence(0, length(text) - $k),
         |  i -> cast(conv(substring(md5(substring(text, i + 1, $k)), 1, 15), 16, 10) as long))""".stripMargin
    // cks: digest-then-position sort keys (position is unique per doc, so
    // comparison never ties and min is deterministic)
    val cks = s"transform(gs, (g, i) -> (g % $gMod) * $posMod + i)"
    // one min per full w-window; distinct selected keys back to digests
    val sel =
      s"""array_distinct(transform(sequence(1, size(cks) - ${w - 1}),
         |  q -> element_at(gs, cast(array_min(slice(cks, q, $w)) % $posMod as int) + 1)))""".stripMargin
    docs
      .where(length(col("text")) >= k + w - 1 &&
        length(col("text")) < lit(posMod))
      .select(col("doc_id"), expr(gs).as("gs"))
      .select(col("doc_id"), col("gs"), expr(cks).as("cks"))
      .select(col("doc_id"), explode(expr(sel)).as("g"))
      .distinct()
  }

  /** Near-dup candidate pairs from shared winnowed fingerprints — the
    * scale path over [[substringSpans]]' exact signal: docs sharing
    * ≥ `minShared` selected fingerprints (document frequency capped at
    * `maxDf`, the same stop-gram candidacy guard as
    * [[ngramJaccardPairs]]). A pair sharing a substring of
    * ≥ k + w - 1 chars is guaranteed a shared fingerprint. */
  def substringWinnowPairs(docs: DataFrame, k: Int = 20, w: Int = 8,
      minShared: Long = 2, maxDf: Long = 1000): DataFrame = {
    // rare-fingerprint guard as a window count (OPTIMIZATION r19, the
    // capBuckets recipe): one shuffle of the fingerprints instead of
    // groupBy + join-back; the filtered frame is what gets checkpointed,
    // so the checkpoint shrinks to the rare survivors too
    val dfW = org.apache.spark.sql.expressions.Window.partitionBy("g")
    val fpf = materialized(
      winnowedFingerprints(docs, k, w)
        .withColumn("__df", count(lit(1)).over(dfW))
        .where(col("__df").between(2, maxDf))
        .drop("__df"))
    fpf.as("a").join(fpf.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared_fp"))
      .where(col("shared_fp") >= minShared)
  }

  // -- query entry points --

  def exactQuery(spark: SparkSession, dir: String): DataFrame =
    exact(Tables.documents(spark, dir)).orderBy("h")

  def ngramQuery(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardPairs(Tables.documents(spark, dir), threshold = 0.8)
      .orderBy("doc_a", "doc_b")

  def containmentQuery(spark: SparkSession, dir: String): DataFrame =
    containmentPairs(Tables.documents(spark, dir), threshold = 0.9)
      .orderBy("doc_a", "doc_b")

  def minhashQuery(spark: SparkSession, dir: String): DataFrame =
    minhashSignatures(Tables.documents(spark, dir))

  def minhashLshQuery(spark: SparkSession, dir: String): DataFrame =
    minhashLshPairs(Tables.documents(spark, dir), threshold = 0.8)
      .orderBy("doc_a", "doc_b")

  def simhashQuery(spark: SparkSession, dir: String): DataFrame =
    simhash(Tables.documents(spark, dir)).orderBy("doc_id")

  def simhashPairsQuery(spark: SparkSession, dir: String): DataFrame =
    simhashPairs(Tables.documents(spark, dir)).orderBy("doc_a", "doc_b")

  /** Per-document summary of cross-document duplicated substring spans
    * (exact stride-1 form; the scale path is [[substringWinnowQuery]]). */
  def substringSpansQuery(spark: SparkSession, dir: String): DataFrame =
    substringSpans(Tables.documents(spark, dir)).orderBy("doc_id")

  /** Oracle face of [[substringCut]]: the cleaned corpus fingerprinted
    * per document — md5 of the reassembled text plus its length and the
    * cut accounting, so any divergence in cut selection, interval
    * merging, or string reassembly in ANY document flips the hash, while
    * the result stays scalar-only (no engine-specific text layout). */
  def substringCutQuery(spark: SparkSession, dir: String): DataFrame =
    substringCut(Tables.documents(spark, dir))
      .select(col("doc_id"), col("n_cuts"), col("cut_chars"),
        coalesce(length(col("text")), lit(0)).cast("long").as("clean_len"),
        md5(coalesce(col("text"), lit(""))).as("clean_md5"))
      .orderBy("doc_id")

  /** Winnowed substring near-dup candidate pairs (the ~2/(w+1)-density
    * scale path over [[substringSpansQuery]]'s exact signal). */
  def substringWinnowQuery(spark: SparkSession, dir: String): DataFrame =
    substringWinnowPairs(Tables.documents(spark, dir))
      .orderBy("doc_a", "doc_b")

  /** Cluster resolution over the (deterministic, oracled) simhash pairs. */
  def clustersQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    dupClusters(docs, simhashPairs(docs)).orderBy("doc_id")
  }

  /** Duplicate-aware soft reweighting over the (deterministic, oracled)
    * simhash pairs — the same cluster base as [[clustersQuery]], emitting
    * per-document training weights instead of keep/drop decisions. */
  def reweightQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    reweight(docs, simhashPairs(docs)).orderBy("doc_id")
  }

  /** Quality-aware canonicalization over the (deterministic, oracled)
    * simhash pairs — the same cluster base as [[clustersQuery]], with the
    * keeper chosen by quality instead of min id. */
  def keepBestQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    keepBest(docs, simhashPairs(docs)).orderBy("cluster")
  }

  /** Exact 13-gram decontamination over the standard hash split. */
  def contaminationQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val folds = Sampling.split(docs, col("doc_id")).select(col("doc_id"), col("fold"))
    ngramContamination(docs, folds)
  }

  /** Train/test contamination check — the hygiene query every training
    * corpus needs after splitting: near-dup pairs whose endpoints landed
    * in DIFFERENT folds (a test document with a training near-twin
    * silently inflates eval). Composes [[simhashPairs]] with the
    * deterministic hash split; two broadcast-sized joins against the
    * tiny (doc_id, fold) projection, so the pair list never reshuffles
    * the corpus. Empty result = clean split. */
  def foldLeakageQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val folds = Sampling.split(docs, col("doc_id")).select(col("doc_id"), col("fold"))
    simhashPairs(docs)
      .join(folds.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("fold", "fold_a"), "doc_a")
      .join(folds.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("fold", "fold_b"), "doc_b")
      .where(col("fold_a") =!= col("fold_b"))
      .select("doc_a", "doc_b", "fold_a", "fold_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  /** CONTENT-DEFINED CHUNKING (Rabin/LBFS-style, Muthitacharoen et al.
    * 2001, "A Low-Bandwidth Network File System") — the storage-dedup
    * primitive the verbatim family lacks: the normalized text is cut at
    * positions where the k-gram rolling hash (the exact
    * [[TextAnalysis.rollingFingerprints]] Horner arithmetic, BIGINT mod
    * 2^31−1) satisfies `h % divisor == 0`, so chunk BOUNDARIES are a
    * function of local CONTENT, not position. That is the property that
    * makes it dedup-capable where fixed-size chunking is not: inserting
    * a prefix shifts every fixed-size frame but leaves every
    * content-defined boundary after the edit untouched, so the shared
    * suffix re-aligns chunk-for-chunk (spec-pinned shift-resilience
    * law). Mean chunk length ≈ `divisor` chars.
    *
    * One row per chunk: (doc_id, c_start, c_len, c_hash=md5(chunk)).
    * Scale shape: per-doc array arithmetic in one projection (gram
    * hashes → boundary filter → tiling explode) — zero shuffle here;
    * only the downstream report groups, and it groups on the digest. */
  def cdcChunks(docs: DataFrame, k: Int = 8, divisor: Long = 64): DataFrame = {
    val n = docs
      .select(col("doc_id"), TextAnalysis.normalized(col("text")).as("nt"))
      .where(length(col("nt")) >= k)
      .select(col("doc_id"), col("nt"),
        expr("transform(split(nt, ''), c -> cast(ascii(c) AS BIGINT))").as("cs"))
      // boundary gram starts: Horner hash of the k codes at i ≡ 0 (mod D);
      // a boundary ENDS its chunk at char i+k-1; the doc tail always ends
      // the last chunk (array_distinct drops the duplicate when a
      // boundary already lands on the final char — ascending order is
      // preserved, so `ends` is sorted without a sort)
      .select(col("doc_id"), col("nt"), expr(
        s"""array_distinct(concat(
              transform(filter(sequence(1, size(cs) - ${k - 1}),
                  i -> aggregate(slice(cs, i, $k),
                         0L, (acc, c) -> (acc * 257 + c) % 2147483647) % $divisor = 0),
                i -> cast(i + ${k - 1} AS BIGINT)),
              array(cast(size(cs) AS BIGINT))))""").as("ends"))
    n.select(col("doc_id"), col("nt"), explode(expr(
        """transform(sequence(1, size(ends)),
           jx -> struct(CASE WHEN jx = 1 THEN 1L ELSE ends[jx - 2] + 1L END AS s,
                        ends[jx - 1] AS e))""")).as("c"))
      .select(col("doc_id"), col("c.s").as("c_start"),
        (col("c.e") - col("c.s") + 1).as("c_len"),
        md5(expr("substring(nt, cast(c.s AS INT), cast(c.e - c.s + 1 AS INT))")).as("c_hash"))
  }

  /** The CDC dedup report — `dedup_cdc`: chunks whose content recurs in
    * MORE THAN ONE document (the cross-doc shared-bytes map a
    * storage/transfer dedup system keeps), with occurrence and carrier
    * counts. Text never shuffles: the report groups (doc_id, len,
    * digest) tuples on the digest. */
  def cdcReport(docs: DataFrame, k: Int = 8, divisor: Long = 64): DataFrame =
    cdcChunks(docs, k, divisor)
      .groupBy("c_hash")
      .agg(min("c_len").as("c_len"),
        countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_occ"))
      .where(col("n_docs") >= 2)

  def cdcQuery(spark: SparkSession, dir: String): DataFrame =
    cdcReport(Tables.documents(spark, dir)).orderBy("c_hash")

  /** Per-document duplicated-byte mass — `dedup_cdc_mass`, the
    * doc-level view of [[cdcReport]] a curation run acts on (drop or
    * down-weight documents whose bytes are mostly shared): per doc the
    * chunk count, total normalized bytes, the bytes belonging to
    * chunks recurring in ≥2 docs, and the duplicated share in integer
    * per-mille (`·1000 div total` — floor-exact cross-engine). Digest
    * join only: chunk text never shuffles. */
  def cdcMass(docs: DataFrame, k: Int = 8, divisor: Long = 64): DataFrame = {
    val chunks = cdcChunks(docs, k, divisor)
    val shared = chunks.groupBy("c_hash")
      .agg(countDistinct("doc_id").as("n_docs"))
      .where(col("n_docs") >= 2)
      .select("c_hash")
    chunks.join(shared, Seq("c_hash"), "left_semi")
      .groupBy("doc_id").agg(sum("c_len").as("dup_bytes"))
      .join(chunks.groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"), sum("c_len").as("total_bytes")),
        Seq("doc_id"), "right")
      .select(col("doc_id"), col("n_chunks"),
        col("total_bytes"),
        coalesce(col("dup_bytes"), lit(0L)).as("dup_bytes"),
        expr("coalesce(dup_bytes, 0L) * 1000 div total_bytes").as("dup_pm"))
  }

  def cdcMassQuery(spark: SparkSession, dir: String): DataFrame =
    cdcMass(Tables.documents(spark, dir)).orderBy("doc_id")

  /** Incremental ingest dedup — the CONTINUOUS-pipeline counterpart of
    * [[exactQuery]]: a new batch of documents (here every 5th doc_id
    * stands in for the incoming slice) is admitted only if its content
    * digest is unseen in the historical corpus (the other four-fifths).
    * Built on [[graft.operators.BloomPrune.antiJoin]]: the bloom filter
    * proves absence, so at real scale the overwhelmingly-novel incoming
    * mass is emitted straight from the scan and only `|dups| + fpp·|new|`
    * rows ever shuffle for the exact check. Digests are the engine-
    * portable 60-bit md5 over `coalesce(text,'')` (never null, so
    * admission is total). */
  def incrementalQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val dg = Hashes.md5Long60(coalesce(col("text"), lit("")))
    val hist = docs.where(col("doc_id") % 5 =!= 0).select(dg.as("digest"))
    val inc = docs.where(col("doc_id") % 5 === 0)
      .select(col("doc_id"), dg.as("digest"))
    graft.operators.BloomPrune
      .antiJoin(inc, "digest", hist, "digest", expectedItems = 1000000L)
      .orderBy("doc_id")
  }
}
