package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Sessions

/** Graph centrality over the similarity graph — PageRank (Brin & Page
  * 1998) power iteration run on the embedding near-neighbor pair graph
  * the dedup family already builds.
  *
  * Why this belongs in a training-data pipeline: the LSH pair graph's
  * high-centrality nodes are the template/boilerplate mass — documents
  * similar to MANY other documents accumulate rank exactly the way hub
  * pages accumulate link mass — so the rank column is a corpus-level
  * down-weighting signal (the inverse of the web use: there you crawl
  * high-rank pages first, here you distrust high-rank near-dup hubs),
  * and on a real crawl corpus with hyperlink edges the same operator IS
  * classic link-graph quality weighting (Common Crawl seed ranking).
  *
  * Execution shape (the Pregel-on-DataFrames standard):
  *  - edges come from [[Similarity.embeddingDupLsh]] — banded LSH
  *    buckets, never all-pairs — symmetrized into a directed edge frame;
  *    edges and out-degrees are cached once (edge-count rows, ids only);
  *  - each of the fixed `iters` rounds is contribution-join (co-keyed on
  *    `src`) + sink-keyed sum — two key-partitioned shuffles of an
  *    id+long frame, NO text/embedding bytes move;
  *  - the rank frame is lazily localCheckpoint'ed every few rounds
  *    (node-count rows of 16 bytes), truncating lineage so round r's plan
  *    does not replay rounds 1..r−1 — the iterative-algorithm discipline
  *    the BPE and Lloyd loops in this codebase already follow (there the
  *    state is driver-side model parameters; here it is corpus-keyed, so
  *    it stays distributed and is materialized — inside the one final
  *    action — instead of collected).
  *
  * Determinism: all-integer arithmetic on a 1e12 grid. Ranks start at
  * `SCALE` per node (mass × N normalization); one round is
  * `r' = (15·SCALE + 85·Σ_in (r_m div deg_m)) div 100` — damping 0.85 in
  * integer percent, integer floor-division contributions — so every
  * engine replays bit-identical longs (no FP accumulation order to
  * drift). Isolated vectors (no LSH pair ≥ τ) have no rank by
  * construction; every graph node keeps degree ≥ 1 under symmetrization,
  * so there is no dangling-mass term. Overflow bound: 85·(total mass)
  * = 85·N·SCALE stays under Long.MaxValue for N up to ~10⁸ per 1e12
  * grid; past that, drop SCALE one decade per corpus decade.
  */
object GraphRank {

  private val Scale = 1000000000000L // 1e12 integer rank grid

  /** (node, mass) after `iters` fixed power-iteration rounds over the
    * symmetrized pair graph. `pairs` must be (vec_a, vec_b) with
    * vec_a < vec_b (one row per undirected edge).
    *
    * Each rank frame here is consumed exactly once by the next round —
    * lineage is linear, so the checkpoint is only a depth dial: every
    * `checkpointEvery` rounds, not every round, and LAZY (VERDICT r13
    * #2): the cuts truncate lineage identically but materialize inside
    * the one final action instead of as separate blocking driver jobs —
    * the shape host contention amplifies. The rank frames' consumers are
    * sequentially data-dependent (round r+1 needs round r), so laziness
    * introduces no concurrent-recompute race. */
  def pagerank(pairs: DataFrame, iters: Int = 10,
               checkpointEvery: Int = 5): DataFrame = {
    // OPTIMIZATION r19 (guide §2.4): the STATIC side is hash-partitioned
    // by `src` ONCE, at cache time — every round's contribution join is
    // keyed on `src`, and an unpartitioned cache re-shuffled the whole
    // edge frame per round (10 exchanges of the largest frame in the
    // loop). The cached partitioning satisfies the join's required
    // distribution, so per round only the node-sized rank frames move.
    val edges = pairs.select(col("vec_a").as("src"), col("vec_b").as("dst"))
      .unionByName(pairs.select(col("vec_b").as("src"), col("vec_a").as("dst")))
      .repartition(col("src"))
    edges.cache(); edges.count() // Dedup.materialized: read 2× per round,
                                 // expensive LSH lineage — stays eager
    // deg's consumers (the per-round contrib joins) are sequentially
    // dependent through the rank frames, so a lazy cache populates on
    // round 1 with no race — one driver action fewer
    val deg = edges.groupBy("src").agg(count(lit(1)).as("d"))
    deg.cache()
    var pr = deg.select(col("src").as("node"), lit(Scale).as("r"))
    for (i <- 1 to iters) {
      // `div`, not `/`: Long / Long goes through double in Spark SQL, and
      // past 2^53 (or near an integer boundary at high degree) the
      // round-then-truncate differs from exact integer floor division.
      val contrib = pr.join(deg, pr("node") === deg("src"))
        .select(pr("node").as("src"), expr("r div d").as("c"))
      pr = edges.join(contrib, "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("c")).as("s"))
        .select(col("node"), expr(s"(15 * ${Scale}L + 85 * s) div 100").as("r"))
      if (i % checkpointEvery == 0 || i == iters) pr = pr.localCheckpoint(false)
    }
    pr
  }

  /** Top-k hubs of the near-dup similarity graph by PageRank mass.
    * Selection is TakeOrdered-then-bounded-window (the
    * [[TextAnalysis.vocab]] discipline): the limit runs as a
    * distributed top-k, and only the k surviving rows see the rank
    * window — no corpus-scale unpartitioned window. */
  def pagerankQuery(spark: SparkSession, dir: String, iters: Int = 10,
                    topK: Int = 25): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Sessions.composed: with AQE the 10 rounds ran as 58 sequential
    // jobs at sf0.1; the static plan runs the whole loop inside one job
    val s = Sessions.composed(spark)
    val pairs = Similarity.embeddingDupLsh(s, dir).select("vec_a", "vec_b")
    pagerank(pairs, iters)
      .orderBy(col("r").desc, col("node")).limit(topK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("r").desc, col("node"))).cast("long"))
      .select(col("node"), col("r").as("mass"), col("rank"))
      .orderBy("rank")
  }
}
