package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Hashes

/** Dataset-assembly operators for a training-data pipeline: deterministic
  * splits and sequence packing.
  *
  * Splits are HASH-based, not RNG-based: `md5(key) mod buckets` gives
  * every engine (and every rerun, at any parallelism, after any
  * repartition) the same assignment — the property that makes a 100 TB
  * train/val/test split reproducible and incrementally extendable (new
  * rows land in a fold without reshuffling old ones). An RNG sample
  * (`df.sample`/`TABLESAMPLE`) is neither cross-engine checkable nor
  * stable under partition changes.
  *
  * Scale: both operators are one projection + (for packing) one window
  * over the shard key — no joins, no driver state.
  */
object Sampling {

  /** Fold id in [0, buckets) from the md5 of the key column — the
    * deterministic split primitive. Same recipe as [[Hashes.md5Long60]]
    * so DuckDB can oracle it exactly. */
  def hashBucket(key: Column, buckets: Int): Column =
    pmod(Hashes.md5Long60(key.cast("string")), lit(buckets.toLong))

  /** Train/val/test assignment by hashed key: `pTrain`/`pVal` in
    * percent-of-1000 granularity via bucket 0..999. Keying by `doc_id`
    * gives a row split; keying by an author/user column gives a
    * group-aware split (no leakage of one group across folds). */
  def split(docs: DataFrame, key: Column,
            pTrain: Double = 0.8, pVal: Double = 0.1): DataFrame = {
    val b = hashBucket(key, 1000)
    docs.withColumn("fold",
      when(b < (pTrain * 1000).toLong, "train")
        .when(b < ((pTrain + pVal) * 1000).toLong, "val")
        .otherwise("test"))
  }

  /** Greedy sequence packing: within each hash shard, documents (ordered
    * by doc_id) are packed into bins of ~`binTokens` whitespace tokens —
    * bin id = floor(exclusive-running-token-total / binTokens), the
    * one-pass streaming approximation of bin packing (a document larger
    * than `binTokens` gets a bin of its own). Shards bound the window
    * state per task, so packing parallelizes: at corpus scale each shard
    * packs independently and bins are globally unique via (shard, bin).
    */
  def packSequences(docs: DataFrame, binTokens: Long = 512,
                    shards: Int = 8): DataFrame = {
    val toks = size(TextAnalysis.tokens(col("text"))).cast("long")
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col("doc_id"), toks.as("n_tokens"))
      .withColumn("shard", hashBucket(col("doc_id"), shards))
      .withColumn("bin",
        floor((sum(col("n_tokens")).over(w) - col("n_tokens")) / binTokens))
      .select("shard", "bin", "doc_id", "n_tokens")
  }

  /** Deterministic stratified downsampling — class rebalancing for a
    * training corpus (keep all of a rare, valuable stratum; thin the
    * dominant ones): a row is kept iff its key's md5 bucket (of 1000)
    * falls below its stratum's keep-rate in per-mille. Hash-based for the
    * same reason as [[split]]: every engine, rerun, and repartition keeps
    * exactly the same rows, and growing the corpus never resamples old
    * ones — properties RNG sampling (`df.sample`) cannot give. Scan-speed
    * shape: one projection + filter, rates are plan literals, no shuffle,
    * no state. */
  def stratifiedSample(df: DataFrame, key: Column, stratum: Column,
                       ratesPerMille: Seq[(String, Int)],
                       defaultPerMille: Int): DataFrame = {
    val rate = ratesPerMille.foldRight(lit(defaultPerMille): Column) {
      case ((s, r), els) => when(stratum === s, lit(r)).otherwise(els)
    }
    df.withColumn("keep_bucket", hashBucket(key, 1000))
      .where(col("keep_bucket") < rate)
  }

  /** Deterministic weighted sampling without replacement (Efraimidis–
    * Spirakis A-ES): each row gets a hash-uniform u ∈ (0, 1] and the
    * top-k rows by u^(1/w) are the sample — over many corpora a row is
    * selected with probability proportional to its weight `w`, yet the
    * draw is fully reproducible (same rows on every engine, rerun, and
    * partitioning), unlike RNG weighted sampling.
    *
    * Cross-engine bit parity (the part RNG can't give): u is derived
    * from the md5 of the key, and the ranking key uses the monotone
    * transform ln(u)/w with ln QUANTIZED to a 1e-8 integer grid before
    * the division — both engines then order identical IEEE doubles
    * (integer-valued numerator / integer weight), so the top-k set and
    * its ranks hash-match exactly (same recipe as the tf-idf / LM-score
    * oracles). Ties (quantized) break on the key column.
    *
    * Scale: the global row_number is a WindowGroupLimit in Spark 4 —
    * each task keeps its local top-k and only k rows per partition reach
    * the single merge task; the corpus itself is never globally sorted. */
  def weightedSample(df: DataFrame, key: Column, weight: Column, k: Int): DataFrame = {
    val u = (Hashes.md5Long60(concat(lit("ws:"), key.cast("string"))).cast("double") + 1d) /
      1.152921504606846976e18 // 2^60: (h+1)/2^60 ∈ (0,1], never ln(0)
    val lnq = round(log(u) * 1e8).cast("long")
    val esKey = lnq.cast("double") / greatest(weight, lit(1L)).cast("double")
    df.withColumn("__es", esKey)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("__es").desc, key)).cast("long"))
      .where(col("rank") <= k)
      .drop("__es")
  }

  /** Per-group deterministic weighted reservoir — the balanced-per-domain
    * variant of [[weightedSample]]: an independent Efraimidis–Spirakis
    * draw inside every group (PARTITION BY), so each domain contributes
    * exactly min(k, |group|) documents regardless of the global weight
    * distribution — the per-domain cap real mixing stages apply before
    * temperature weighting. Same e8-quantized ln(u) key as the global
    * form (both engines rank identical IEEE doubles); the window is
    * group-partitioned, so at scale it is per-task top-k per domain,
    * never a global sort. */
  def groupReservoir(df: DataFrame, group: Column, key: Column,
                     weight: Column, k: Int): DataFrame = {
    val u = (Hashes.md5Long60(concat(lit("gr:"), key.cast("string"))).cast("double") + 1d) /
      1.152921504606846976e18 // (h+1)/2^60 ∈ (0,1], never ln(0)
    val lnq = round(log(u) * 1e8).cast("long")
    val esKey = lnq.cast("double") / greatest(weight, lit(1L)).cast("double")
    df.withColumn("__es", esKey)
      .withColumn("rank", row_number().over(
        Window.partitionBy(group).orderBy(col("__es").desc, key)).cast("long"))
      .where(col("rank") <= k)
      .drop("__es")
  }

  def groupReservoirQuery(spark: SparkSession, dir: String): DataFrame =
    groupReservoir(
      Tables.documents(spark, dir).select("doc_id", "source", "n_chars"),
      col("source"), col("doc_id"), col("n_chars"), k = 10)
      .orderBy("source", "rank")

  /** Row-local JVM mirror of [[groupReservoir]]'s ES ranking key —
    * md5("gr:" ++ key) → u ∈ (0,1] → round(ln(u)·1e8) / max(w,1) — what
    * the batch spec's local replay ranks by. The rounding is BigDecimal
    * HALF_UP on the double's exact binary value, bit-identical to Spark's
    * `round(col)`. */
  def localGroupEsKey(key: Long, weight: Long): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"gr:$key".getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
    val u = (java.lang.Long.parseLong(hex, 16).toDouble + 1d) / 1.152921504606846976e18
    val lnq = new java.math.BigDecimal(math.log(u) * 1e8)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    lnq.toDouble / math.max(weight, 1L)
  }

  /** Deterministic source mixing — static domain reweighting for a
    * training corpus (the DoReMi/The-Pile recipe): given target mix
    * proportions `t_pm` (per-mille) over sources, the largest achievable
    * mix size is `M = min_s(n_s·1000 div t_pm)` (the binding source is
    * kept ~whole), each source's keep-rate is `(t_pm·M) div n_s`
    * per-mille, and a doc survives iff its md5 bucket falls below its
    * source's rate. ALL integer arithmetic — the kept set is identical
    * on every engine, rerun, and partitioning, and growing one source
    * never resamples another. Unlisted sources drop (rate 0).
    *
    * Shape at 100 TB: one tiny per-source count aggregate, rates
    * broadcast back, then a scan-speed hash filter — the corpus itself
    * never shuffles. */
  def mixSources(docs: DataFrame, targetsPerMille: Seq[(String, Int)]): DataFrame = {
    require(targetsPerMille.nonEmpty && targetsPerMille.forall(_._2 > 0))
    val spark = docs.sparkSession
    import spark.implicits._
    val targets = targetsPerMille.toDF("source", "t_pm")
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_s"))
      .join(broadcast(targets), "source")
    val m = counts.agg(min(expr("n_s * 1000 div t_pm")).as("m"))
    val rates = counts.crossJoin(broadcast(m))
      .select(col("source"),
        least(lit(1000L), expr("(t_pm * m) div n_s")).as("rate_pm"))
    docs.join(broadcast(rates), "source")
      .where(hashBucket(col("doc_id"), 1000) < col("rate_pm"))
      .select("doc_id", "source", "rate_pm")
  }

  /** Temperature-flattened source sampling — the multilingual/source
    * α-sampling recipe (XLM-R §5.1 style: sample source s with
    * probability ∝ n_s^α so low-resource sources are up-weighted
    * relative to their raw share). At α = 0.5 (temperature 2) the
    * per-source keep rate has a CLOSED integer-friendly form: the
    * realized share must be ∝ √n_s with the smallest source kept whole,
    * so `rate_s = √(n_min/n_s)` — and IEEE sqrt is CORRECTLY ROUNDED
    * (unlike pow(x, α) for general α, which is libm-dependent and could
    * never hash-match an oracle), so `floor(1000·√(n_min/n_s))` is
    * bit-identical on every engine. α is therefore fixed at 0.5 by
    * design here; other temperatures belong to [[mixSources]]' explicit
    * per-mille targets.
    *
    * Same 100 TB shape as [[mixSources]]: one tiny per-source count
    * aggregate, rates broadcast back, scan-speed salted-hash filter —
    * the corpus never shuffles. The hash salt ("mt:") decorrelates this
    * filter from [[mixSources]]' buckets so composing both never
    * systematically double-drops. */
  def mixTemperature(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_s"))
    val mn = counts.agg(min("n_s").as("n_min"))
    // coalesce: floor() can never be null here (n_s >= 1 per group), but
    // its NULLABLE type makes the downstream rate filter push an
    // isnotnull condition INTO the one-row broadcast cross join, tripping
    // the product-free plan law; the non-nullable form keeps the
    // broadcast condition-free
    val rates = counts.crossJoin(broadcast(mn))
      .select(col("source"),
        coalesce(floor(lit(1000) * sqrt(col("n_min").cast("double") / col("n_s")))
          .cast("long"), lit(0L)).as("rate_pm"))
    docs.join(broadcast(rates), "source")
      .where(Hashes.md5Long60(concat(lit("mt:"), col("doc_id").cast("string"))) % 1000
        < col("rate_pm"))
      .select("doc_id", "source", "rate_pm")
  }

  /** GPT-style CONCAT-AND-CHUNK packing — the pretraining layout where the
    * corpus is one token stream cut into fixed `seqTokens`-token training
    * sequences and a document crossing a boundary SPLITS across sequences
    * ([[packSequences]] is the whole-doc bin variant; this one has zero
    * padding by construction, which is why real pretraining runs use it).
    * Within each hash shard documents concatenate in doc_id order; a
    * document occupying token interval [t_start, t_end) emits one row per
    * sequence it overlaps, carrying its in-document token offset and the
    * token count it contributes there — so Σ n_toks per doc equals the
    * doc's token count and Σ per sequence equals `seqTokens` except each
    * shard's tail sequence (both laws spec-asserted).
    *
    * All BIGINT arithmetic on running token totals — the layout is a
    * deterministic function of the input SET. Scale shape: one window
    * over the shard key for the running total, then a row-local
    * `sequence()` explode with fan-out ceil(len/seqTokens)+1 per doc —
    * no join, no second shuffle; shards bound per-task window state and
    * parallelize the packing exactly like [[packSequences]]. */
  def concatChunk(docs: DataFrame, seqTokens: Long = 256,
                  shards: Int = 8): DataFrame =
    concatChunkCounts(docs.select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens")),
      seqTokens, shards)

  /** [[concatChunk]] over PRE-COMPUTED per-doc token counts — the hook
    * that lets a different tokenization (e.g. the deep-BPE counts in
    * `pipe_prep_tok`) drive the identical packing arithmetic. */
  def concatChunkCounts(counts: DataFrame, seqTokens: Long = 256,
                        shards: Int = 8): DataFrame = {
    require(seqTokens > 0 && shards > 0)
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts.select(col("doc_id"), col("n_tokens"))
      .where(col("n_tokens") > 0) // a 0-token doc occupies no sequence
      .withColumn("shard", hashBucket(col("doc_id"), shards))
      .withColumn("t_end", sum(col("n_tokens")).over(w))
      .withColumn("t_start", col("t_end") - col("n_tokens"))
      .withColumn("seq_id",
        explode(sequence(expr(s"t_start div $seqTokens"),
          expr(s"(t_end - 1) div $seqTokens"))))
      .select(col("shard"), col("seq_id"), col("doc_id"),
        (greatest(col("t_start"), col("seq_id") * seqTokens) - col("t_start"))
          .as("doc_offset"),
        (least(col("t_end"), (col("seq_id") + 1) * seqTokens)
          - greatest(col("t_start"), col("seq_id") * seqTokens)).as("n_toks"))
  }

  /** Data-constrained epoch scheduling (Muennighoff et al. 2023, "Scaling
    * Data-Constrained Language Models", arXiv:2305.16264): given a total
    * token budget and target per-mille mix shares, each source's wanted
    * mass is `budget·t_pm div 1000` tokens; a source with less data than
    * wanted REPEATS — up to `maxEpochsPm` per-mille epochs (default 4000
    * = the paper's ~4-epoch point beyond which repeating stops helping) —
    * and residual demand is recorded as `deficit_tokens` instead of
    * over-repeating. All integer arithmetic (epochs held in per-mille),
    * so the schedule is engine- and partitioning-exact.
    *
    * 100 TB shape: ONE per-source token-count aggregate (map-side
    * combined over the scan) — the corpus itself never moves; the output
    * schedule is vocabulary-sized metadata, like [[mixSources]]' rates. */
  def mixEpochs(docs: DataFrame, budgetTokens: Long,
                targetsPerMille: Seq[(String, Int)],
                maxEpochsPm: Long = 4000): DataFrame = {
    require(budgetTokens > 0 && maxEpochsPm > 0)
    require(targetsPerMille.nonEmpty && targetsPerMille.forall(_._2 > 0))
    val spark = docs.sparkSession
    import spark.implicits._
    val targets = targetsPerMille.toDF("source", "t_pm")
      .select(col("source"), col("t_pm").cast("long").as("t_pm"))
    val toks = size(TextAnalysis.tokens(col("text"))).cast("long")
    docs.select(col("source"), toks.as("n_toks"))
      .groupBy("source").agg(sum("n_toks").as("data_tokens"))
      .join(broadcast(targets), "source")
      .withColumn("wanted_tokens", expr(s"${budgetTokens}L * t_pm div 1000"))
      // a token-less source must get 0 epochs and a full deficit — the
      // raw division is NULL there and `least` would skip the NULL,
      // silently granting the 4-epoch cap to a source with nothing to
      // serve (r11 ADVICE); both engines coalesce identically
      .withColumn("epochs_pm",
        least(lit(maxEpochsPm),
          coalesce(expr("wanted_tokens * 1000 div data_tokens"), lit(0L))))
      .withColumn("served_tokens", expr("data_tokens * epochs_pm div 1000"))
      .withColumn("deficit_tokens",
        greatest(lit(0L), col("wanted_tokens") - col("served_tokens")))
      .select("source", "data_tokens", "t_pm", "wanted_tokens",
        "epochs_pm", "served_tokens", "deficit_tokens")
  }

  /** Materialize a [[mixEpochs]] schedule into the actual epoch-copy
    * list the loader iterates: each doc repeats `epochs_pm div 1000`
    * times, plus ONE more iff its salted md5 bucket falls under
    * `epochs_pm mod 1000` — so each source's realized doc mass matches
    * its granted per-mille epochs IN EXPECTATION (the fractional epoch
    * is a deterministic Bernoulli-style hash sample, not an exact
    * per-mille count — the spec's tolerance is max(5, 15%) of the
    * fractional mass), carried by a deterministic hash sample (the
    * [[stratifiedSample]] property: rerun-, engine-, and
    * repartition-stable; growing a source never reshuffles which docs
    * carry the fraction). The "me:" salt decorrelates the fractional
    * pick from every other hash gate in the pipeline.
    *
    * Scale shape: the schedule join is broadcast (sources are few), the
    * explode fan-out is `epochs_pm/1000 + 1` ≤ the repeat cap — a
    * row-local `sequence()`, no shuffle beyond [[mixEpochs]]' own tiny
    * aggregate. */
  def mixEpochsExpand(docs: DataFrame, budgetTokens: Long,
                      targetsPerMille: Seq[(String, Int)],
                      maxEpochsPm: Long = 4000): DataFrame = {
    val sched = mixEpochs(docs, budgetTokens, targetsPerMille, maxEpochsPm)
      .select("source", "epochs_pm")
    docs.select("doc_id", "source")
      .join(broadcast(sched), "source")
      .withColumn("extra",
        (Hashes.md5Long60(concat(lit("me:"), col("doc_id").cast("string"))) % 1000
          < expr("epochs_pm % 1000")).cast("long"))
      .withColumn("n_copies", expr("epochs_pm div 1000") + col("extra"))
      .where(col("n_copies") > 0)
      .withColumn("copy", explode(sequence(lit(0L), col("n_copies") - 1)))
      .select("doc_id", "source", "copy")
  }

  /** Curriculum staging (curriculum learning, Bengio et al. 2009): order
    * the corpus easy→hard by a score and split it into `nStages` equal
    * stages by EXACT global rank (ntile semantics, ties by doc_id so the
    * assignment is a deterministic function of the input set) — the
    * stage column a training loader filters on per epoch phase.
    *
    * The rank comes from [[Relational.bucketedRank]]'s two-pass bucketed
    * form — the q_spend_quartiles machinery — because the naive
    * formulation is ONE global-order window, i.e. a single-partition
    * sort of the whole corpus at scale; bucketing turns it into a
    * bounded when-chain scan + per-bucket windows + a broadcast offset
    * map, all executor-sized. */
  def curriculumStages(scored: DataFrame, nStages: Int = 4,
                       buckets: Int = 32): DataFrame = {
    require(nStages > 0)
    val (ranked, n) = Relational.bucketedRank(scored, "doc_id", "quality",
      buckets, desc = false)
    ranked.select(col("doc_id"), col("quality"),
      Relational.ntileCol(n, nStages).as("stage"))
  }

  /** DSIR-style importance selection (Data Selection via Importance
    * Resampling, Xie et al. 2023): score every raw document by how much
    * its hashed n-gram profile looks like the TARGET distribution rather
    * than the raw corpus, then keep the top of the importance ranking.
    * The published recipe is exactly this shape — hashed feature buckets,
    * a bag-of-buckets log-likelihood-ratio weight per document, a
    * resample by weight (top-k here; Gumbel-noise sampling is the same
    * plan with one extra hash column).
    *
    * Implementation, all published-pattern Spark:
    *  - features: whitespace unigrams hashed to `buckets` md5 buckets
    *    ([[hashBucket]] — the engine's cross-engine-replayable hash);
    *  - the bucket model: ONE keyed aggregation emits raw counts and
    *    target counts together (conditional sum), a `buckets`-row frame —
    *    model parameters in the IVF-centroid sense — whose Laplace-
    *    smoothed log-ratio is quantized `round(ln·1e8) ∈ ℤ` per bucket
    *    (the [[TextAnalysis.lmScore]] discipline: quantize each
    *    transcendental BEFORE arithmetic so 1-ULP engine drift cannot
    *    reach a score);
    *  - per-doc weight: integer Σ count·ratio over the doc's buckets —
    *    one keyed agg + one broadcast join, text never shuffles;
    *  - selection: TakeOrdered top-`keepK` (w desc, doc_id), THEN the
    *    rank window over the k surviving rows (the [[TextAnalysis.vocab]]
    *    bounded-window discipline — no corpus-scale global window).
    *
    * At 100 TB: two scans of the words projection (bucket model + doc
    * weights — foldable to one with a cached bucketed frame if the word
    * explosion dominates), a 64-row broadcast, a TakeOrdered. The target
    * here is the English slice (lang = targetLang); in production the
    * target counts come from a trusted corpus — same plan, different
    * filter. */
  def dsirSelect(docs: DataFrame, targetLang: String = "en",
                 buckets: Int = 64, keepK: Int = 100): DataFrame = {
    val top = dsirWeights(docs, targetLang, buckets)
      .join(docs.select("doc_id", "source", "lang"), "doc_id")
      .orderBy(col("dsir_w").desc, col("doc_id")).limit(keepK)
    top.withColumn("rank", row_number().over(
        Window.orderBy(col("dsir_w").desc, col("doc_id"))).cast("long"))
      .select("doc_id", "source", "lang", "dsir_w", "rank")
  }

  /** The RESAMPLING step of DSIR proper — Gumbel-top-k over the
    * importance logweights (Xie et al. 2023 sample ∝ exp(w/τ); the
    * Gumbel-max trick makes that an exact top-k: keep the k largest
    * `w/τ + Gumbel` keys, here scaled to `w + τ·g` in integers). Where
    * [[dsirSelect]] takes the deterministic head of the ranking — and
    * systematically over-selects one style — the Gumbel draw admits
    * below-the-cutoff diversity at a rate the temperature dials
    * (τ = 1/tauDiv in logweight units).
    *
    * Deterministic sampling, not RNG: the Gumbel noise is
    * `-ln(-ln(u))` of the salted md5 uniform (the [[weightedSample]]
    * idiom — same hash → same draw on every engine, rerun, and
    * partitioning), quantized `round(·1e8) ∈ ℤ` before the integer
    * score sum (the lmScore discipline). Same shapes as [[dsirSelect]]:
    * 64-row broadcast model, one scan, TakeOrdered. */
  def dsirGumbel(docs: DataFrame, targetLang: String = "en", buckets: Int = 64,
                 keepK: Int = 100, tauDiv: Int = 10): DataFrame = {
    val u = (Hashes.md5Long60(concat(lit("dg:"), col("doc_id").cast("string"))) + lit(1L))
      .cast("double") / lit(1.152921504606846976e18) // 2^60, dyadic-exact
    val sc = dsirWeights(docs, targetLang, buckets)
      .withColumn("g8", round(-log(-log(u)) * 1e8, 0).cast("long"))
      .withColumn("score", col("dsir_w") + expr(s"g8 div $tauDiv"))
    val top = sc.join(docs.select("doc_id", "source", "lang"), "doc_id")
      .orderBy(col("score").desc, col("doc_id")).limit(keepK)
    top.withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .select("doc_id", "source", "lang", "dsir_w", "g8", "score", "rank")
  }

  def dsirGumbelQuery(spark: SparkSession, dir: String): DataFrame =
    dsirGumbel(Tables.documents(spark, dir)).orderBy("rank")

  /** The per-document DSIR weight frame `(doc_id, dsir_w)` — the scoring
    * half of [[dsirSelect]], shared with [[dsirGumbel]] and the
    * PrepPipeline DSIR stage. */
  def dsirWeights(docs: DataFrame, targetLang: String = "en",
                  buckets: Int = 64): DataFrame = {
    val bucketed = dsirBucketed(docs, buckets)
    val docw = bucketed.groupBy("doc_id", "b").agg(count(lit(1)).as("cnt"))
      .join(broadcast(dsirRatio(bucketed, targetLang, buckets)), "b")
      .groupBy("doc_id").agg(sum(col("cnt") * col("lr")).as("dsir_w"))
    docw
  }

  private def dsirBucketed(docs: DataFrame, buckets: Int): DataFrame = docs
    .select(col("doc_id"), col("lang"),
      explode(TextAnalysis.tokens(col("text"))).as("w"))
    .select(col("doc_id"), col("lang"), hashBucket(col("w"), buckets).as("b"))

  private def dsirRatio(bucketed: DataFrame, targetLang: String,
                        buckets: Int): DataFrame = {
    val b = buckets.toLong
    val model = bucketed.groupBy("b").agg(
      count(lit(1)).as("cr"),
      sum(when(col("lang") === targetLang, 1L).otherwise(0L)).as("ct"))
    val totals = model.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"))
    model.crossJoin(broadcast(totals)) // 1-row scalar frame
      .select(col("b"),
        round(log(((col("ct") + lit(1)).cast("double") / (col("nt") + lit(b))) /
                  ((col("cr") + lit(1)).cast("double") / (col("nr") + lit(b)))) * 1e8)
          .cast("long").as("lr"))
  }

  /** The FROZEN bucket-ratio artifact as driver-side model parameters:
    * `lr(b)` for b ∈ [0, buckets) — `buckets` longs, the whole serving
    * state of the importance gate (the [[graft.analytics.Similarity]]
    * centroid discipline). A bucket absent from the training corpus
    * carries 0 (the batch inner join's skip semantics — with 64 buckets
    * and any real corpus every bucket is occupied). */
  def dsirRatioTable(docs: DataFrame, targetLang: String = "en",
                     buckets: Int = 64): Array[Long] = {
    val out = Array.fill(buckets)(0L)
    dsirRatio(dsirBucketed(docs, buckets), targetLang, buckets)
      .collect().foreach(r => out(r.getLong(0).toInt) = r.getLong(1))
    out
  }

  def dsirQuery(spark: SparkSession, dir: String): DataFrame =
    dsirSelect(Tables.documents(spark, dir)).orderBy("rank")

  // -- query entry points --

  def splitQuery(spark: SparkSession, dir: String): DataFrame =
    split(Tables.documents(spark, dir), col("doc_id"))
      .groupBy("fold").agg(count(lit(1)).as("n_docs"))
      .orderBy("fold")

  def splitAssignQuery(spark: SparkSession, dir: String): DataFrame =
    split(Tables.documents(spark, dir), col("doc_id"))
      .select("doc_id", "fold").orderBy("doc_id")

  def packQuery(spark: SparkSession, dir: String): DataFrame =
    packSequences(Tables.documents(spark, dir))
      .orderBy("shard", "bin", "doc_id")

  /** Rebalance `events` by type: keep every purchase, half the signups,
    * a fifth of the views, a tenth of the clicks, 5% of anything else. */
  def stratifiedSampleQuery(spark: SparkSession, dir: String): DataFrame =
    stratifiedSample(
      Tables.events(spark, dir).select("event_id", "event_type"),
      col("event_id"), col("event_type"),
      Seq("purchase" -> 1000, "signup" -> 500, "view" -> 200, "click" -> 100),
      defaultPerMille = 50)
      .select("event_id", "event_type", "keep_bucket")
      .orderBy("event_id")

  /** Length-weighted document sample: 100 docs drawn ∝ n_chars — the
    * "sample training documents proportional to size/quality" primitive
    * of corpus mixture construction. */
  def weightedSampleQuery(spark: SparkSession, dir: String): DataFrame =
    weightedSample(Tables.documents(spark, dir).select("doc_id", "n_chars"),
      col("doc_id"), col("n_chars"), k = 100)
      .select("doc_id", "n_chars", "rank")
      .orderBy("rank")

  /** Mix four sources at 40/25/20/15; the other sixteen drop. */
  def mixSourcesQuery(spark: SparkSession, dir: String): DataFrame =
    mixSources(Tables.documents(spark, dir).select("doc_id", "source"),
      Seq("src0" -> 400, "src1" -> 250, "src2" -> 200, "src3" -> 150))
      .orderBy("doc_id")

  def mixTemperatureQuery(spark: SparkSession, dir: String): DataFrame =
    mixTemperature(Tables.documents(spark, dir).select("doc_id", "source"))
      .orderBy("doc_id")

  /** Expand the [[mixEpochsQuery]] schedule into per-copy rows. */
  def mixEpochsExpandQuery(spark: SparkSession, dir: String): DataFrame =
    mixEpochsExpand(Tables.documents(spark, dir).select("doc_id", "source", "text"),
      budgetTokens = 40000L,
      Seq("src0" -> 400, "src1" -> 250, "src2" -> 200, "src3" -> 150))
      .orderBy("doc_id", "copy")

  /** Stage the documents corpus easy→hard by the txt_quality composite. */
  def curriculumQuery(spark: SparkSession, dir: String): DataFrame =
    curriculumStages(
      TextAnalysis.qualityScore(Tables.documents(spark, dir))
        .select("doc_id", "quality"))
      .orderBy("doc_id")

  def concatChunkQuery(spark: SparkSession, dir: String): DataFrame =
    concatChunk(Tables.documents(spark, dir))
      .orderBy("shard", "seq_id", "doc_id")

  /** Schedule a 40k-token run at the [[mixSourcesQuery]] 40/25/20/15 mix
    * — a budget that exercises BOTH regimes at test scale: data-scarce
    * sources hit the 4-epoch repeat cap and report deficit, data-rich
    * ones get a fractional epoch (epochs_pm < 1000). */
  def mixEpochsQuery(spark: SparkSession, dir: String): DataFrame =
    mixEpochs(Tables.documents(spark, dir).select("source", "text"),
      budgetTokens = 40000L,
      Seq("src0" -> 400, "src1" -> 250, "src2" -> 200, "src3" -> 150))
      .orderBy("source")
}
