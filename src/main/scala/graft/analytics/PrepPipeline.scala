package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Sessions, Tables}

/** The flagship training-data-prep composition: the full manifest a
  * corpus curation run produces, as ONE dataflow over the building
  * blocks this library already verifies piecewise —
  *
  *   quality gate ([[TextAnalysis.c4Filter]])
  *     → dedup (two keeper policies, below)
  *     → fold split ([[Sampling.split]], hash-deterministic)
  *     → eval-set decontamination ([[Dedup.contaminationPairs]]:
  *       a TRAIN doc sharing any 13-gram with a val/test doc is dropped,
  *       eval folds stay intact)
  *     → sequence packing of the surviving train set
  *       ([[Sampling.packSequences]], (shard, bin) addresses)
  *
  * Two dedup keeper policies, each its own oracled query:
  *  - [[manifestOf]] (`pipe_prep`): EXACT dedup, keeper = min doc_id per
  *    normalized-text digest — the cheap first-pass sweep;
  *  - [[manifestQualityOf]] (`pipe_prep_quality`): NEAR-dup clustering
  *    ([[Dedup.simhashPairs]] → [[Dedup.keepBest]]), keeper = the
  *    argmax-QUALITY cluster member — the FineWeb-style canonicalization
  *    where a verbatim copy on a clean page beats the same text wrapped
  *    in boilerplate (which exact dedup cannot even group).
  *
  * Output: one row per surviving document — `(doc_id, fold, n_tokens,
  * shard, bin)`, with NULL shard/bin for val/test rows (only train is
  * packed). Every stage shuffles digests/ids, never text (the only
  * text-bearing frames are scan-side projections), so the composition
  * scales exactly like its parts; each stage is independently
  * hash-oracled by its own query, and each composition is oracled
  * end-to-end by its mirrored CTE chain. Each `(spark, dir)` entry point
  * runs its chain on a [[Sessions.composed]] clone. */
object PrepPipeline {

  def manifest(spark: SparkSession, dir: String): DataFrame =
    manifestOf(Tables.documents(Sessions.composed(spark), dir))

  /** The same composition over an arbitrary (doc_id, text, ...) frame.
    * Removing the exact-dedup non-keepers up front leaves the manifest
    * unchanged (PrepPipelineSpec pins this). */
  def manifestOf(docs: DataFrame): DataFrame = {
    // materialized (OPTIMIZATION r19, guide §1.2): the gated corpus feeds
    // the exact-dedup keeper pass AND every assemble stage through `dd`;
    // unmaterialized, the regex-heavy gate replayed inside each eager
    // stage (Profile r19: five ~0.65 s gate rebuilds per pipe_prep run).
    // Same checkpoint the quality/mm variants already write — the
    // phase-1 output of a staged curation run.
    val kept = materialized(gated(docs))
    // 2. exact dedup among the kept (keeper = min doc_id per digest)
    assemble(kept, Dedup.exact(kept).select(col("keep_doc_id").as("doc_id")))
  }

  def manifestHtml(spark: SparkSession, dir: String): DataFrame =
    manifestHtmlOf(Tables.documents(Sessions.composed(spark), dir))

  /** The v7 chain — curation FROM CRAWL HTML (`pipe_prep_html`): real
    * pipelines' stage zero is HTML → text (C4 and FineWeb both open
    * there), so the flagship composition gets a face whose corpus IS
    * the extraction output: [[TextAnalysis.htmlOf]] renders each
    * document as the 7-block page fixture, [[TextAnalysis.htmlExtract]]
    * strips boilerplate by the block gates, and the UNCHANGED pipe_prep
    * chain (gate → exact dedup → split → decontam → pack) runs over the
    * extracted text. A document whose content block was link-dense
    * enough to drop extracts to '' and exits at the c4 gate
    * (too_short) — extraction failures surface as curation decisions.
    * Scale: the extraction adds one scan + one blocks-sized groupBy in
    * front of the chain; everything after shuffles digests/ids exactly
    * as pipe_prep does. */
  def manifestHtmlOf(docs: DataFrame): DataFrame =
    manifestOf(TextAnalysis.htmlExtract(TextAnalysis.htmlOf(docs))
      .select("doc_id", "text"))

  def manifestQuality(spark: SparkSession, dir: String): DataFrame =
    manifestQualityOf(Tables.documents(Sessions.composed(spark), dir))

  /** The quality-keeper variant: stage 2 is near-dup clustering over the
    * gated corpus (simhash banded-Hamming pairs → [[Dedup.dupClusters]])
    * with the argmax-quality member kept per cluster
    * ([[Dedup.keepBest]]; ties to smaller doc_id). Pairs are generated
    * AMONG THE GATED DOCS — connectivity through a gate-rejected document
    * does not merge clusters, matching real pipelines where the gate runs
    * first precisely so later stages never touch rejected mass. */
  def manifestQualityOf(docs: DataFrame): DataFrame = {
    // materialized for the same reason manifestCleanOf checkpoints its
    // post-excision corpus: the clustering stage (pair generation +
    // dupClusters' eager fixpoint + the quality-argmax window) runs
    // several eager actions over its input, and the regex-heavy C4 gate
    // replays inside each one when `kept` is a raw plan (measured
    // 7.0 s → ~4.8 s warm at sf0.1). The gated corpus is the phase-1
    // output a staged curation run writes anyway.
    val kept = materialized(gated(docs))
    assemble(kept,
      Dedup.keepBest(kept, Dedup.simhashPairs(kept))
        .select(col("best_doc_id").as("doc_id")))
  }

  def manifestClean(spark: SparkSession, dir: String): DataFrame =
    manifestCleanOf(Tables.documents(Sessions.composed(spark), dir))

  /** The full curation chain — the Lee-et-al + FineWeb composition:
    * gate → SUBSTRING EXCISION ([[Dedup.substringCut]]: non-canonical
    * copies of cross-document duplicated spans are cut out of the gated
    * corpus, so later stages see deduplicated BYTES, not just
    * deduplicated documents) → near-dup clustering with the
    * argmax-quality keeper over the CLEANED text → split → decontam →
    * pack. Cutting before clustering is the real pipelines' order:
    * boilerplate spans are exactly what inflates false near-dup mass,
    * and quality scores should judge the text that will actually train.
    * Gate runs FIRST (rejected docs must not claim span ownership). */
  def manifestCleanOf(docs: DataFrame): DataFrame = {
    // materialized (r19): the excision scans its input twice (gram
    // detection + per-doc reassembly) — a raw gate plan replays the
    // regex pass in both
    val kept = materialized(gated(docs))
    // a document whose every byte was a non-canonical duplicated span is
    // cut to nothing — no trainable bytes left, so it exits the pipeline
    // here (and its empty text would poison the ratio-based quality
    // score downstream).
    // Materialized + lineage-truncated (see [[materialized]]): the
    // excision plan (gram detection + interval merge + per-doc
    // reassembly) feeds EVERY downstream stage, and the clustering stage
    // alone runs several eager actions — without materialization each
    // one re-executes the whole cut (measured 33 s vs 12 s at sf0.1).
    // This is the one text-bearing checkpoint: the post-excision corpus,
    // exactly what a multi-stage curation run writes between phases.
    val cleaned = materialized(Dedup.substringCut(kept).select("doc_id", "text")
      .where(length(col("text")) > 0))
    assemble(cleaned,
      Dedup.keepBest(cleaned, Dedup.simhashPairs(cleaned))
        .select(col("best_doc_id").as("doc_id")))
  }

  def manifestSemantic(spark: SparkSession, dir: String): DataFrame = {
    val s = Sessions.composed(spark)
    manifestSemanticOf(Tables.documents(s, dir), Tables.embeddings(s, dir))
  }

  /** The v4 chain — the full modern curation recipe (the one SemDeDup
    * is published as a stage OF): gate → substring excision → near-dup
    * clustering with the argmax-quality keeper → SEMANTIC PRUNE → split
    * → decontam → pack. The semantic stage runs [[Similarity
    * .semanticDedupOf]] over the embeddings OF THE NEAR-DUP SURVIVORS
    * (`embeddings.vec_id` is the document id): verbatim and
    * near-verbatim copies are already gone, so what collapses here is
    * the mass the byte-level stages cannot see — paraphrases, the same
    * content re-worded. Running it LAST is the published order (SemDeDup
    * prunes after verbatim dedup, so its quadratic-within-cluster work
    * sees the smallest corpus) and makes the centroid sample itself a
    * function of the survivor set, exactly like a staged production run.
    * A survivor with no embedding row passes through (no basis to judge
    * semantics — curation never drops what it cannot score).
    *
    * Scale: the semantic stage adds one IVF assignment scan of the
    * survivor embeddings plus the cluster-bounded dominance join keyed
    * on `list_id` — ids in, ids out; document text never rides a
    * semantic-stage shuffle. */
  def manifestSemanticOf(docs: DataFrame, emb: DataFrame): DataFrame = {
    // materialized (r19): same two-scan excision input as manifestCleanOf
    val kept = materialized(gated(docs))
    // same checkpoint as manifestCleanOf: the excision feeds every
    // downstream stage (near-dup clustering AND the semantic prune's
    // survivor join), each with its own eager actions
    val cleaned = materialized(Dedup.substringCut(kept).select("doc_id", "text")
      .where(length(col("text")) > 0))
    // checkpoint #2: the near-dup keeper set is a tiny id-only frame,
    // but its PLAN is the whole simhash-pairs → clustering →
    // quality-argmax chain — and it feeds THREE separate eager actions
    // before the final query even runs (the semantic stage's centroid
    // sample, its assignment cache, and the no-embedding passthrough).
    // Unmaterialized, each action replays the clustering fixpoint
    // (measured ~3× the stage cost at sf0.1). Ids only — never text.
    val best = materialized(Dedup.keepBest(cleaned, Dedup.simhashPairs(cleaned))
      .select(col("best_doc_id").as("doc_id")))
    val embD = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("e"))
    val embSurv = embD.join(best.select(col("doc_id").as("vec_id")), "vec_id")
    val semKept = Similarity.semanticDedupOf(embSurv, nLists = 16, tau = 0.4)
      .where(col("kept")).select(col("vec_id").as("doc_id"))
    val noEmb = best.join(embD.select(col("vec_id").as("doc_id")),
      Seq("doc_id"), "left_anti")
    assemble(cleaned, semKept.unionByName(noEmb))
  }

  def manifestTrain(spark: SparkSession, dir: String): DataFrame =
    manifestTrainOf(Tables.documents(Sessions.composed(spark), dir))

  /** The TRAINING-READY view — the list the training loader actually
    * consumes, where the manifest variants stop at bookkeeping: the
    * pipe_prep survivor chain (gate → exact dedup → fold split → 13-gram
    * decontamination) continued through CURRICULUM STAGING
    * ([[Sampling.curriculumStages]]: surviving train docs ranked
    * easy→hard by the txt_quality composite, exact global ntile via the
    * bucketed two-pass rank) and GPT-style CONCAT-CHUNK packing
    * ([[Sampling.concatChunk]]: zero padding, docs split across fixed
    * 256-token sequences). Output: one row per (doc × sequence it
    * occupies) — `(doc_id, stage, shard, seq_id, doc_offset, n_toks)` —
    * so an epoch phase is `WHERE stage <= p` and a batch is a
    * contiguous (shard, seq_id) range.
    *
    * Scale: the survivor chain shuffles digests/ids only (pipe_prep's
    * shapes); the train text is checkpointed ONCE (the inter-phase
    * corpus write), then staging is the bounded when-chain rank and
    * packing is one per-shard window + a row-local explode. */
  def manifestTrainOf(docs: DataFrame): DataFrame = {
    // r19: gate checkpointed once (it feeds the keeper pass and `dd`),
    // and `dd` — the post-dedup train corpus, read by THREE eager stages
    // (folds, decontamination, the trainDocs checkpoint) — checkpointed
    // too, so neither the regex gate nor the keeper join replays per stage
    val kept = materialized(gated(docs))
    val dd = materialized(kept.join(
      materialized(Dedup.exact(kept).select(col("keep_doc_id").as("doc_id"))),
      "doc_id"))
    val folds = materialized(Sampling.split(dd.select("doc_id"), col("doc_id"))
      .select("doc_id", "fold"))
    val contamTrain = Dedup.contaminationPairs(dd, folds)
      .select(col("train_doc").as("doc_id")).distinct()
    val survTrain = materialized(folds.where(col("fold") === "train")
      .join(contamTrain, Seq("doc_id"), "left_anti"))
    // the one text-bearing checkpoint: the surviving train corpus — read
    // by the quality scorer (whose bucketed rank runs two eager probe
    // actions) AND the packing pass
    val trainDocs = materialized(dd.join(survTrain.select("doc_id"), "doc_id")
      .select("doc_id", "text"))
    val stages = Sampling.curriculumStages(
      TextAnalysis.qualityScore(trainDocs).select("doc_id", "quality"))
      .select("doc_id", "stage")
    Sampling.concatChunk(trainDocs)
      .join(stages, "doc_id")
      .select("doc_id", "stage", "shard", "seq_id", "doc_offset", "n_toks")
      .orderBy("shard", "seq_id", "doc_id")
  }

  def manifestTok(spark: SparkSession, dir: String): DataFrame =
    manifestTokOf(Tables.documents(Sessions.composed(spark), dir))

  /** The training-ready view packed by REAL tokenizer counts —
    * `pipe_prep_tok`, the v5 composition that closes the loop between
    * the curation chain and the deep tokenizer: the pipe_prep survivor
    * chain produces the curated train corpus, the DEEP BPE TOKENIZER IS
    * TRAINED ON THAT CORPUS ([[Bpe.deepMerges]] — exactly the staged
    * production order: curate, then fit the tokenizer to what survived),
    * every surviving doc is tokenized with the native `bpe_tokenize`
    * expression, and curriculum staging + concat-chunk packing run over
    * the BPE token counts — so `n_toks`/`seq_id` are the numbers the
    * training loader actually sees, not whitespace approximations.
    *
    * Scale: identical shapes to [[manifestTrainOf]] plus the
    * tokenizer's one segment-frequency aggregation (the merge loop is
    * driver-local) and the zero-shuffle tokenize scan. */
  def manifestTokOf(docs: DataFrame): DataFrame = {
    // r19: gate checkpointed once (it feeds the keeper pass and `dd`),
    // and `dd` — the post-dedup train corpus, read by THREE eager stages
    // (folds, decontamination, the trainDocs checkpoint) — checkpointed
    // too, so neither the regex gate nor the keeper join replays per stage
    val kept = materialized(gated(docs))
    val dd = materialized(kept.join(
      materialized(Dedup.exact(kept).select(col("keep_doc_id").as("doc_id"))),
      "doc_id"))
    val folds = materialized(Sampling.split(dd.select("doc_id"), col("doc_id"))
      .select("doc_id", "fold"))
    val contamTrain = Dedup.contaminationPairs(dd, folds)
      .select(col("train_doc").as("doc_id")).distinct()
    val survTrain = materialized(folds.where(col("fold") === "train")
      .join(contamTrain, Seq("doc_id"), "left_anti"))
    val trainDocs = materialized(dd.join(survTrain.select("doc_id"), "doc_id")
      .select("doc_id", "text"))
    // tokenizer fit to the curated corpus; counts from the native scan
    val merges = Bpe.deepMerges(trainDocs).map { case (l, r, _) => (l, r) }
    val counts = Bpe.tokenizeWith(trainDocs, merges)
      .select(col("doc_id"), col("n_bpe_tokens").as("n_tokens"))
    val stages = Sampling.curriculumStages(
      TextAnalysis.qualityScore(trainDocs).select("doc_id", "quality"))
      .select("doc_id", "stage")
    Sampling.concatChunkCounts(counts)
      .join(stages, "doc_id")
      .select("doc_id", "stage", "shard", "seq_id", "doc_offset", "n_toks")
      .orderBy("shard", "seq_id", "doc_id")
  }

  def manifestDsir(spark: SparkSession, dir: String): DataFrame =
    manifestDsirOf(Tables.documents(Sessions.composed(spark), dir))

  /** The v6 composition — the curation chain ending in the IMPORTANCE
    * GATE (`mix_dsir`) instead of a quality heuristic: the pipe_prep
    * survivor chain (gate → exact dedup → fold split → 13-gram
    * decontamination) produces the curated train corpus, the DSIR bucket
    * model is FIT ON THAT CORPUS ([[Sampling.dsirWeights]] — the
    * manifestTok staging order: curate, then fit the model to what
    * survived; target = the English slice), and the positive-LLR half
    * (`dsir_w > 0` — documents more likely under the target distribution
    * than the raw one, the threshold-free selection rule) is packed by
    * concat-chunk. Output one row per (doc × sequence):
    * `(doc_id, dsir_w, shard, seq_id, doc_offset, n_toks)`.
    *
    * Scale: the survivor chain shuffles digests/ids only; the bucket
    * model is a 64-row broadcast fit by one aggregation over the
    * checkpointed train text; selection is a scan-side predicate (no
    * global window, no top-k); packing is the one per-shard window. */
  def manifestDsirOf(docs: DataFrame): DataFrame = {
    // r19: gate checkpointed once (it feeds the keeper pass and `dd`),
    // and `dd` — the post-dedup train corpus, read by THREE eager stages
    // (folds, decontamination, the trainDocs checkpoint) — checkpointed
    // too, so neither the regex gate nor the keeper join replays per stage
    val kept = materialized(gated(docs))
    val dd = materialized(kept.join(
      materialized(Dedup.exact(kept).select(col("keep_doc_id").as("doc_id"))),
      "doc_id"))
    val folds = materialized(Sampling.split(dd.select("doc_id"), col("doc_id"))
      .select("doc_id", "fold"))
    val contamTrain = Dedup.contaminationPairs(dd, folds)
      .select(col("train_doc").as("doc_id")).distinct()
    val survTrain = materialized(folds.where(col("fold") === "train")
      .join(contamTrain, Seq("doc_id"), "left_anti"))
    val trainDocs = materialized(dd.join(survTrain.select("doc_id"), "doc_id")
      .select("doc_id", "text"))
    val keptW = materialized(
      Sampling.dsirWeights(trainDocs.join(docs.select("doc_id", "lang"), "doc_id"))
        .where(col("dsir_w") > 0)) // ids + weights only
    Sampling.concatChunk(trainDocs.join(keptW.select("doc_id"), "doc_id"))
      .join(keptW, "doc_id")
      .select("doc_id", "dsir_w", "shard", "seq_id", "doc_offset", "n_toks")
      .orderBy("shard", "seq_id", "doc_id")
  }

  def manifestMm(spark: SparkSession, dir: String): DataFrame = {
    val s = Sessions.composed(spark)
    // the same ascii guard every multimodal oracle face carries: the
    // DuckDB mirror replays the payload dHash on the text side
    manifestMmOf(s, Multimodal.asciiParityGuard(Tables.documents(s, dir)))
  }

  /** The v9→v10 composition — MULTIMODAL curation (`pipe_prep_mm`,
    * VERDICT r15 #4, audio graduated r17 per VERDICT r16 #4): the
    * perceptual near-dup machinery of BOTH media columns runs inside
    * the flagship chain the way every text signal did. Stage 2 gates on
    * all three axes: exact text dedup (keeper = min doc_id per
    * normalized digest, the pipe_prep policy), perceptual IMAGE dedup
    * ([[Multimodal.dHash]] over the gated payloads), and AUDIO
    * fingerprint dedup ([[Multimodal.aHash]] — the energy-envelope
    * fingerprint over the same payloads' PCM containerization). Each
    * media axis is banded-Hamming pairs ([[Dedup.hash64Pairs]]) +
    * cluster resolution ([[Dedup.dupClusters]] verbatim), keeper = the
    * min-reachable-id member per cluster (singletons keep themselves).
    * A document survives only if it is its text keeper AND both media
    * clusters' keeper — a row whose text is unique but whose image OR
    * audio is a near-copy of an earlier row drops, the multimodal-corpus
    * rule (one canonical row per distinct (text, image, audio) content
    * triple, canonical = smallest id on every axis). Pairs are generated
    * among the gated docs, the [[manifestQualityOf]] precedent.
    *
    * Scale: both fingerprints come from ONE row-local payload pass
    * ([[Multimodal.dAHash]], fused per VERDICT r17 #3 — bytes never
    * shuffle and are read once; 5 longs per doc leave the scan), pairs
    * are banded (never all-pairs), the cluster fixpoints move
    * (id, label) longs, and the keeper intersection is an id-only join;
    * everything downstream is the unchanged digest/id-shuffling
    * pipe_prep tail. */
  def manifestMmOf(spark: SparkSession, docs: DataFrame): DataFrame = {
    // materialized like manifestQualityOf: the pair + cluster machinery
    // runs several eager actions, and the regex-heavy gate would replay
    // inside each one from a raw plan
    val kept = materialized(gated(docs))
    val textKeepers = Dedup.exact(kept).select(col("keep_doc_id").as("doc_id"))
    // ONE payload pass for both media fingerprints (VERDICT r17 #3):
    // [[Multimodal.dAHash]] reads/encodes each payload once and emits 5
    // longs per doc; materialized because both banded pair stages below
    // consume it (re-running the plan would re-scan the payloads —
    // exactly the double work the fusion removes)
    val fp = materialized(Multimodal.dAHash(spark, kept))
    def mediaKeepers(pre: String) =
      Dedup.dupClusters(kept,
          Dedup.hash64Pairs(fp.select(col("doc_id"),
              col(s"${pre}0").as("h0"), col(s"${pre}1").as("h1")))
            .select("doc_a", "doc_b"))
        .where(col("doc_id") === col("keeper"))
        .select("doc_id")
    assemble(kept, textKeepers
      .join(mediaKeepers("dh"), "doc_id")
      .join(mediaKeepers("ah"), "doc_id"))
  }

  def manifestIncr(spark: SparkSession, dir: String): DataFrame =
    manifestIncrOf(Tables.documents(Sessions.composed(spark), dir))

  /** The v8 composition — INCREMENTAL re-crawl curation
    * (`pipe_prep_incr`): the nightly shape, where curation runs over the
    * crawl INCREMENT against the resident corpus instead of re-curating
    * from scratch. Stage 0a extracts the increment (v2 docs new or
    * changed vs the v1 snapshot — an anti-join on (doc_id, digest), the
    * [[CurationAudit.snapshotDiff]] semantics); 0b applies the novelty
    * floor (keep only increment docs contributing ≥1 trigram the
    * RESIDENT corpus has never seen — [[CurationAudit.ngramNovelty]]'s
    * machinery as a gate); then the UNCHANGED pipe_prep chain, with
    * exact dedup extended to the resident corpus (a kept doc whose
    * normalized digest already lives in v1 is a cross-snapshot duplicate
    * and drops — the `dedup_incremental` semantics inside the flagship).
    *
    * Scale: the increment is a small fraction of the corpus (the whole
    * point of incremental curation); the resident side contributes only
    * DIGEST-SIZED frames — v1's text never shuffles (doc-digests for the
    * diff, distinct trigram hashes for the novelty floor, normalized
    * digests for the dedup), so the per-cycle cost is
    * O(increment + resident digests), not O(corpus re-scan). */
  def manifestIncrOf(docs: DataFrame): DataFrame = {
    val v1 = CurationAudit.snapshotV1(docs).select("doc_id", "text")
    val v2 = CurationAudit.snapshotV2(docs).select("doc_id", "text")
    val v1dig = v1.select(col("doc_id"), md5(col("text")).as("dig"))
    // 0a. the increment: new-or-changed docs (digest anti-join)
    val inc = materialized(
      v2.withColumn("dig", md5(col("text")))
        .join(v1dig, Seq("doc_id", "dig"), "left_anti")
        .select("doc_id", "text"))
    // 0b. novelty floor vs the resident trigram set
    val refTris = Dedup.shingleHashes(v1, 3).select("h1", "h2").distinct()
    val novelIds = Dedup.shingleHashes(inc, 3)
      .join(refTris, Seq("h1", "h2"), "left_anti")
      .select("doc_id").distinct()
    val fresh = inc.join(novelIds, "doc_id")
    // 1-2. the standard gate, then exact dedup within the increment AND
    // against the resident corpus's normalized digests
    val kept = materialized(gated(fresh))
    val residentNorm = v1
      .select(md5(TextAnalysis.normalized(col("text"))).as("h")).distinct()
    val keepers = Dedup.exact(kept)
      .join(residentNorm, Seq("h"), "left_anti")
      .select(col("keep_doc_id").as("doc_id"))
    assemble(kept, keepers)
  }

  /** Materialize an inter-stage frame AND truncate its lineage
    * (`localCheckpoint`, the [[Dedup.dupClusters]] idiom — on a cluster
    * this is `checkpoint()` against reliable storage / the manifest
    * parquet a staged curation run writes between phases). `cache()` is
    * NOT enough here and was measured SLOWER than no caching at all:
    * cache substitutes at execution but leaves the logical plan in
    * place, and this pipeline's stages embed their inputs' plans
    * multiplicatively — the final manifest plan reached 490k lines /
    * 10.7k InMemoryTableScans, at which point CATALYST time (analysis +
    * canonicalization per action) dominated the query. Checkpointing
    * collapses each stage to a single LogicalRDD leaf; every
    * materialized frame is ids + a few small columns, never text.
    * Lazy checkpoint + count = one job to both run the stage and fill
    * the checkpoint. */
  private def materialized(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(false)
    cp.count()
    cp
  }

  /** Stage 1: the c4 quality gate. OPTIMIZATION r19 (guide §2.4 — remove
    * shuffles outright): the previous form joined `docs` back to the
    * gate's surviving ids — a self-join that scanned the corpus twice
    * and, in the static prep session, rebuilt the gate's regex pass
    * inside a broadcast exchange. [[TextAnalysis.c4Filter]] carries
    * `text` through, and `doc_id` is the document key, so the join was
    * an identity: one scan + one filter produces the same rows. */
  private def gated(docs: DataFrame): DataFrame =
    TextAnalysis.c4Filter(docs).where(col("keep")).select("doc_id", "text")

  /** Stages 3–5 over the gated corpus and a chosen keeper set: fold
    * split, TRAIN-side 13-gram decontamination, train packing, and the
    * final manifest projection. */
  private def assemble(kept: DataFrame, keepers: DataFrame): DataFrame = {
    // the keeper set is consumed (via `dd`) by FOUR downstream stages —
    // folds, decontamination, packing, and the token count — and Spark
    // does not CSE repeated subplans within one action, so an uncached
    // keeper plan (exact-dedup groupBy at minimum; the full near-dup
    // clustering chain for the quality/clean/semantic variants) replays
    // once per stage. Materialize it: ids only, rows × 8 bytes.
    // r19: `dd` itself checkpointed as well — its four consumers each
    // replayed the keeper join (and, before callers checkpointed `kept`,
    // the whole regex gate) once per eager stage
    val dd = materialized(kept.join(materialized(keepers), "doc_id"))
    // 3. deterministic fold assignment (id+fold, consumed by stages 4, 5
    // and the final union — materialized like every inter-stage manifest)
    val folds = materialized(Sampling.split(dd.select("doc_id"), col("doc_id"))
      .select("doc_id", "fold"))
    // 4. decontamination: drop leaking TRAIN docs, keep eval intact. The
    // 13-gram explode inside contaminationPairs is the most expensive
    // stage of the back half — materializing its id-only survivor set
    // keeps it to ONE execution (stage 5's packing input AND the final
    // union both read survTrain; uncached, each replayed the explode —
    // measured 15.6 s vs ~3 s for the assemble tail at sf0.1).
    val contamTrain = Dedup.contaminationPairs(dd, folds)
      .select(col("train_doc").as("doc_id")).distinct()
    val survTrain = materialized(folds.where(col("fold") === "train")
      .join(contamTrain, Seq("doc_id"), "left_anti"))
    val surv = survTrain.unionByName(folds.where(col("fold") =!= "train"))
    // 5. pack the surviving train set into (shard, bin) addresses —
    // (doc_id, shard, bin) only; the packing window replays otherwise
    val packed = materialized(
      Sampling.packSequences(dd.join(survTrain.select("doc_id"), "doc_id"))
        .select("doc_id", "shard", "bin"))
    val nTok = dd.select(col("doc_id"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
    surv.join(nTok, "doc_id")
      .join(packed, Seq("doc_id"), "left")
      .select("doc_id", "fold", "n_tokens", "shard", "bin")
      .orderBy("doc_id")
  }
}
