package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Corpus-level pipeline operators — the composition layer of the
  * training-data extension surface: a cleaning pipeline chaining the
  * per-document signal operators into keep/drop decisions, and
  * deterministic stratified sampling. No counterpart in the reference
  * (SURVEY.md §2.2 "not have" list); both are standard stages of a
  * large-scale corpus build.
  *
  * 100 TB shape: both are map-only scans plus one digest-keyed shuffle for
  * the duplicate check — no state, no driver-side anything; sampling is a
  * pushdown-able filter (the hash predicate reaches the scan, so a sampled
  * read never materializes the rejected rows downstream).
  */
object Corpus {

  /** Minimum composite quality ([[TextAnalysis.quality]]) to keep a
    * document — calibrated to reject the low tail (~35% of the synthetic
    * corpus) while keeping the pipeline's output non-trivial. */
  val QualityKeepThreshold = 0.5

  /** Per-language keep rates in per-mille for [[sampleStratified]]:
    * downsample the over-represented head language, keep the tail.
    * Languages outside the map fall back to [[DefaultRatePerMille]]. */
  val SampleRatesPerMille: Seq[(String, Int)] =
    Seq("en" -> 400, "de" -> 800, "es" -> 800, "fr" -> 800, "zh" -> 600)
  val DefaultRatePerMille = 100

  /** Cleaning pipeline: exact-duplicate drop (keep the min-doc_id copy),
    * then the within-document repetition gate, then the quality gate —
    * composing [[Dedup]]'s digest grouping with
    * [[TextAnalysis.repetition]] and [[TextAnalysis.quality]]. One row per
    * document: (doc_id, keep, reason ∈
    * kept|duplicate|repetitive|low_quality) — the keep/drop ledger a
    * corpus build audits.
    *
    * Reason priority mirrors production pipelines: dedup first (a
    * duplicate is 'duplicate' even when it would also fail the content
    * gates), then repetition (cheap, catches degenerate text), then
    * quality. */
  def clean(documents: DataFrame): DataFrame = clean(documents, learnedGate = false)

  /** The heuristic gate chain, with the LEARNED gate
    * ([[TextAnalysis.qualityClassifier]]) optionally appended as the last
    * filter: a survivor of dedup + repetition + heuristic quality must
    * then also clear the classifier's keep decision, or it rejects as
    * `clf_rejected`. One implementation for both modes — the flag only
    * adds the extra join + predicate, so the heuristic semantics cannot
    * drift between the faces. */
  def clean(documents: DataFrame, learnedGate: Boolean): DataFrame = {
    // one digest convention, one implementation: Dedup's (doc_id, rep) map
    val dr = Dedup.docReps(documents)
    // r18: quality and repetition are MAP-ONLY per-doc signals — ONE
    // projection over one scan (identical single-expression faces:
    // [[TextAnalysis.qualityScoreCol]] / [[TextAnalysis.repetitiveCol]])
    // instead of two scans re-joined on doc_id
    val sig = Tables.spread(documents).select(col("doc_id"),
      TextAnalysis.qualityScoreCol.as("quality_score"),
      TextAnalysis.repetitiveCol.as("repetitive"))
    val base = dr.join(sig, "doc_id")
    val (joined, clfKeep) =
      if (!learnedGate) (base, lit(true))
      else (base.join(TextAnalysis.qualityClassifier(documents)
        .select(col("doc_id"), col("keep").as("clf_keep")), "doc_id"), col("clf_keep"))
    joined.select(
      col("doc_id"),
      (col("doc_id") === col("rep") && !col("repetitive") &&
        col("quality_score") >= QualityKeepThreshold && clfKeep).as("keep"),
      when(col("doc_id") =!= col("rep"), lit("duplicate"))
        .when(col("repetitive"), lit("repetitive"))
        .when(col("quality_score") < QualityKeepThreshold, lit("low_quality"))
        .when(!clfKeep, lit("clf_rejected"))
        .otherwise(lit("kept")).as("reason"))
  }

  /** Filter-ablation accounting over [[clean]]'s heuristic gate chain —
    * the report a data team reads before touching a threshold: for each
    * gate (duplicate → repetitive → low_quality, [[clean]]'s order), how
    * many documents/tokens the gate flags ON ITS OWN (`n_flagged` — what
    * removing every other gate would still drop) and how many it drops
    * MARGINALLY at its pipeline position (`n_marginal` — [[clean]]'s
    * first-reason attribution; marginal counts sum to exactly the
    * pipeline's total drops). A gate whose marginal share is far below
    * its alone share is shadowed by earlier gates — the redundancy
    * signal [[metricCorr]] gives at the score grain, here at the
    * decision grain. One row per gate:
    * (stage, gate, n_flagged, tok_flagged, n_marginal, tok_marginal).
    *
    * 100 TB shape: the same digest-shuffle + per-doc-signal joins as
    * [[clean]] (the gate predicates are shared by construction), then a
    * 3-way per-document explode collapsing map-side into ≤3 rows — no
    * second pass over the corpus per gate, no driver-side anything. */
  def filterAblation(documents: DataFrame): DataFrame = {
    val dr = Dedup.docReps(documents)
    val nTok = size(split(col("text"), " ")).cast("long")
    // r18: token count + quality + repetition ride ONE projection (see
    // [[clean]]); only the digest map needs a join
    val base = Tables.spread(documents)
      .select(col("doc_id"), nTok.as("n_tok"),
        TextAnalysis.qualityScoreCol.as("quality_score"),
        TextAnalysis.repetitiveCol.as("repetitive"))
      .join(dr, "doc_id")
      .select(col("n_tok"),
        (col("doc_id") =!= col("rep")).as("is_dup"),
        col("repetitive").as("is_rep"),
        (col("quality_score") < QualityKeepThreshold).as("is_lowq"))
    base
      .select(col("n_tok"), explode(array(
        struct(lit(1).as("stage"), lit("duplicate").as("gate"),
          col("is_dup").as("flagged"), col("is_dup").as("marginal")),
        struct(lit(2).as("stage"), lit("repetitive").as("gate"),
          col("is_rep").as("flagged"),
          (!col("is_dup") && col("is_rep")).as("marginal")),
        struct(lit(3).as("stage"), lit("low_quality").as("gate"),
          col("is_lowq").as("flagged"),
          (!col("is_dup") && !col("is_rep") && col("is_lowq")).as("marginal"))))
        .as("g"))
      .groupBy(col("g.stage").as("stage"), col("g.gate").as("gate"))
      .agg(
        sum(when(col("g.flagged"), 1L).otherwise(0L)).as("n_flagged"),
        sum(when(col("g.flagged"), col("n_tok")).otherwise(0L)).as("tok_flagged"),
        sum(when(col("g.marginal"), 1L).otherwise(0L)).as("n_marginal"),
        sum(when(col("g.marginal"), col("n_tok")).otherwise(0L)).as("tok_marginal"))
  }

  /** The sampling hash: uniform in [0, 1000) per document, independent of
    * the strata, portable ([[Dedup.h32]] is md5-derived on both engines).
    * Salted so it is independent of every other hash in the engine. */
  private def sampleHash(docId: Column): Column =
    Dedup.h32(concat(lit("smp:"), docId.cast("string"))) % 1000

  /** The sampling predicate, reusable by [[sampleStratified]] and the
    * composed [[endToEnd]] pipeline. */
  private def sampleKeep: Column = sampleHash(col("doc_id")) < rateFor(col("lang"))

  private def rateFor(lang: Column): Column =
    SampleRatesPerMille.foldLeft(lit(DefaultRatePerMille)) {
      case (acc, (l, r)) => when(lang === l, lit(r)).otherwise(acc)
    }

  /** Deterministic stratified Bernoulli sample over the `lang` strata:
    * keep a document iff hash(doc_id) mod 1000 < rate(lang). Reproducible
    * across runs/engines (no RNG state), unbiased within each stratum, and
    * a pure filter — at scale it prunes at the scan. */
  def sampleStratified(documents: DataFrame): DataFrame =
    documents
      .where(sampleKeep)
      .select(col("doc_id"), col("lang"), col("source"))

  /** Sample size for [[sampleFixedN]]. */
  val FixedSampleN = 200

  /** Deterministic fixed-SIZE uniform sample — the exactly-N companion of
    * the fixed-rate [[sampleStratified]] (an eval split or annotation
    * batch needs exactly N documents, not a rate): rank every document by
    * a salted portable hash (ties by doc_id) and keep the first
    * [[FixedSampleN]] — a uniform draw without replacement, reproducible
    * across runs and engines. Output: (doc_id, lang, source).
    *
    * 100 TB shape: TakeOrderedAndProject — per-partition heaps of N, no
    * global sort, no driver-side anything beyond the N winners. */
  def sampleFixedN(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), col("lang"), col("source"),
        Dedup.h32(concat(lit("fix:"), col("doc_id").cast("string"))).as("h"))
      .orderBy(col("h").asc, col("doc_id").asc)
      .limit(FixedSampleN)
      .select("doc_id", "lang", "source")

  /** Sample size for [[sampleWeighted]]. */
  val WeightedSampleN = 100

  /** Quality-weighted sampling WITHOUT replacement — Efraimidis–Spirakis
    * A-ES: each document draws priority ln(u)/w (u a salted-hash uniform
    * in (0,1), w its composite quality score), and the [[WeightedSampleN]]
    * largest priorities win. Inclusion probability is exactly
    * proportional-to-weight WOR — the principled "oversample good text"
    * step between uniform sampling ([[sampleFixedN]]) and full
    * importance resampling ([[dsirApply]]); unlike rejection thinning it
    * returns an exact-size sample. Deterministic: the uniform is the
    * family's salted portable hash, the score is 1e-6-rounded (deciles
    * discipline), the priority 1e-9-rounded with doc_id tiebreak.
    * Output: (doc_id, weight, priority).
    *
    * 100 TB shape: a map-only projection into a global top-N —
    * `TakeOrderedAndProject` keeps N rows per partition then N total;
    * no shuffle of the corpus, no full sort. */
  def sampleWeighted(documents: DataFrame): DataFrame =
    Tables.spread(documents)
      .select(col("doc_id"),
        greatest(TextAnalysis.qualityScoreCol, lit(1e-6)).as("weight"),
        Dedup.h32(concat(lit("wsm:"), col("doc_id").cast("string"))).as("h"))
      .select(col("doc_id"), col("weight"),
        round(log((col("h") + 0.5) / lit(4294967296.0)) / col("weight"), 9)
          .as("priority"))
      .orderBy(col("priority").desc, col("doc_id").asc)
      .limit(WeightedSampleN)

  /** Per-stratum sample size for [[sampleStratifiedN]]. */
  val PerStratumN = 40

  /** Per-stratum exactly-K sampling — the balanced-split builder (equal
    * representation per language regardless of corpus skew): within each
    * `lang`, keep the [[PerStratumN]] documents with the smallest salted
    * hash (ties doc_id-asc). Deterministic, order-insensitive, and
    * bounded: the per-group top-k runs through the SAME
    * [[graft.functions.TopKByScore]] aggregator the similarity family
    * uses — map-side partial aggregation keeps ≤K candidates per
    * (partition, lang) before the one shuffle, so no stratum ever sorts
    * more than K elements at once. Output: (lang, doc_id, rank). */
  def sampleStratifiedN(documents: DataFrame): DataFrame =
    graft.functions.TopKByScore.perGroup(
      documents.select(col("lang"),
        col("doc_id").as("neighbor_id"),
        // negated hash: the aggregator keeps the HIGHEST scores
        (-Dedup.h32(concat(lit("fixs:"), col("doc_id").cast("string"))))
          .cast("double").as("cosine_sim")),
      PerStratumN, groupCol = "lang")
      .select(col("lang"), col("neighbor_id").as("doc_id"), col("rank"))

  /** Holdout boundaries (per mille of the salted hash range): hash <
    * [[TrainPerMille]] → train, < [[ValPerMille]] → val, rest → test
    * (90 / 5 / 5). */
  val TrainPerMille = 900
  val ValPerMille = 950

  /** The split hash: salted so membership is independent of every other
    * hash in the engine (a document's sampling fate must not correlate
    * with its split). */
  private def splitHash(docId: Column): Column =
    Dedup.h32(concat(lit("split:"), docId.cast("string"))) % 1000

  /** Deterministic train/val/test assignment — the reproducible-split
    * primitive every training pipeline needs: membership is a pure
    * function of doc_id, so the same document lands in the same split on
    * every run, on every engine, and AFTER the corpus grows (old
    * documents never migrate between splits when new ones arrive — the
    * property a random split or a rank-based split does not have).
    *
    * 100 TB shape: map-only scan, no shuffle, no state; the predicate
    * `split = 'train'` composes with partition pruning downstream. */
  def holdoutSplit(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), col("lang"),
      when(splitHash(col("doc_id")) < TrainPerMille, "train")
        .when(splitHash(col("doc_id")) < ValPerMille, "val")
        .otherwise("test").as("split"))

  /** Execute the mixing plan's DOWNSAMPLE side — [[mixPlan]] made
    * applicable, the way [[writeSharded]] executes [[shardPlan]]: each
    * document of an over-represented language is kept with probability
    * `min(weight, 1)` via the salted portable hash, so the surviving
    * corpus's token composition moves toward [[TargetMix]]
    * deterministically (same keep-set on every run/engine). Upsampling
    * (weight > 1) is repetition at pack time, not a row-level operation —
    * those languages pass through whole (rate 1) carrying their weight.
    * Output (doc_id, lang, rate).
    *
    * 100 TB shape: the per-language rate table is ≤ #languages rows and
    * broadcast; the keep test is a pure per-row predicate on the scan. */
  def mixApply(documents: DataFrame): DataFrame = {
    val rates = mixPlan(documents)
      .select(col("lang"), least(col("weight"), lit(1.0)).as("rate"))
    documents.join(broadcast(rates), Seq("lang"))
      .where(Dedup.h32(concat(lit("mix:"), col("doc_id").cast("string"))) % 1000
        < col("rate") * 1000.0)
      .select(col("doc_id"), col("lang"), col("rate"))
  }

  /** Execute the UPSAMPLING side of the mix plan as integer repeat
    * epochs — the data-constrained-scaling step (Muennighoff et al.
    * 2023: repeating good data up to ~4 epochs trades near-lossless
    * against fresh tokens) that [[mixApply]] deliberately leaves to
    * pack time: every document draws
    * `n_repeats = ⌊weight⌋ + Bernoulli(weight − ⌊weight⌋)`, the
    * fractional part resolved by the SAME `mix:` salted hash as
    * [[mixApply]]'s keep rule — so for weight ≤ 1 languages,
    * `n_repeats = 1` EXACTLY when mixApply keeps the document (pinned
    * cross-op), and the expected token mass per language is exactly
    * `weight × actual` at any weight. Output: (doc_id, lang, weight,
    * n_repeats).
    *
    * 100 TB shape: the ≤#languages weight table broadcasts; the repeat
    * draw is a pure per-row projection on the scan — the repeats
    * themselves materialize downstream at pack time (a `sequence()`
    * explode), never as row duplication here. */
  def mixEpochs(documents: DataFrame): DataFrame = {
    val w = mixPlan(documents).select(col("lang"), col("weight"))
    documents.join(broadcast(w), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("weight"),
        (floor(col("weight")) +
          when(Dedup.h32(concat(lit("mix:"), col("doc_id").cast("string")))
            % 1000 < (col("weight") - floor(col("weight"))) * 1000.0, 1L)
            .otherwise(0L)).cast("long").as("n_repeats"))
  }

  /** Deterministic eval/train split for [[decontaminate]]: doc_id ≡
    * [[EvalRem]] (mod [[EvalMod]]) plays the held-out benchmark set (~5%),
    * the rest the training corpus. */
  val EvalMod = 20
  val EvalRem = 7

  /** Decontamination n-gram size: much longer than [[Dedup.ShingleSize]] —
    * an 8-word exact overlap is evidence of leakage, a 3-word one is noise.
    * (GPT-3 used 13-gram overlap, Llama-family pipelines 8–10; any exact
    * long-n-gram hit marks the training document.) */
  val DecontShingleSize = 8

  /** Benchmark decontamination — flag training documents that share any
    * exact [[DecontShingleSize]]-word shingle with the held-out eval set.
    * One row per TRAINING document: (doc_id, n_hit_shingles, contaminated).
    *
    * 100 TB shape: the eval side is benchmark data — megabytes, not
    * terabytes — so its distinct shingle-hash set is `broadcast` and the
    * corpus-side probe is a map-side hash join: the 100 TB side is scanned
    * once, never shuffled on shingles. Only the (rare) hits reach the
    * per-doc count, and the final left join's hit side is small enough to
    * broadcast too. Same skew-free shape as [[Dedup.minhashLshIncremental]]
    * probes, with the roles reversed. */
  def decontaminate(documents: DataFrame): DataFrame = {
    val isEval = col("doc_id") % EvalMod === EvalRem
    def shingled(d: DataFrame): DataFrame =
      d.select(col("doc_id"),
        explode(Dedup.hashedShingles(col("text"), DecontShingleSize)).as("s"))
    val evalSh = shingled(documents.where(isEval)).select("s").distinct()
    val train = Tables.spread(documents.where(!isEval))
    // per-doc shingle lists are already distinct, so count(rows) after the
    // semi-ish join = number of distinct leaked shingles
    val hits = shingled(train).join(broadcast(evalSh), "s")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit_shingles"))
    train.select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hit_shingles"), lit(0L)).as("n_hit_shingles"),
        (coalesce(col("n_hit_shingles"), lit(0L)) > 0).as("contaminated"))
  }

  /** Bloom-gated decontamination — [[decontaminate]] with the
    * 100 TB-scale membership pre-filter in front of the exact verify: the
    * eval split's distinct shingle hashes build ONE Bloom filter
    * (distributed `stat.bloomFilter` tree-aggregate; the filter is the
    * MODEL — kilobytes-to-megabytes sized by the eval set, which is small
    * by nature), and every training shingle passes the codegen'd native
    * [[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]]
    * gate BEFORE reaching the broadcast verify join. Bloom filters have
    * no false negatives, and every gated survivor is still exactly
    * verified, so the output is IDENTICAL to [[decontaminate]] — same
    * oracle — while the join input shrinks by ~(1 − fpp) of the clean
    * shingle mass. This is the standard big-data decontamination shape:
    * at 100 TB the per-row filter probe is cheap scan-side work and the
    * verify join sees only real + fpp·clean candidates.
    *
    * Output: (doc_id, n_hit_shingles, contaminated) per training doc. */
  def bloomDecontaminate(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graft.bridge
    import org.apache.spark.sql.types.BinaryType
    val isEval = col("doc_id") % EvalMod === EvalRem
    def shingled(d: DataFrame): DataFrame =
      d.select(col("doc_id"),
        explode(Dedup.hashedShingles(col("text"), DecontShingleSize)).as("s"))
    // staged: feeds the filter build AND the exact-verify join
    val evalSh = graft.engine.Staging.stage(
      shingled(documents.where(isEval)).select("s").distinct())
    // sized to the actual eval-shingle cardinality (a count on the staged
    // frame, not a second scan); 1% fpp only affects pre-filter
    // selectivity, never the result
    val nEval = evalSh.count()
    val train = Tables.spread(documents.where(!isEval))
    if (nEval == 0) // stat.bloomFilter rejects empty input; the answer is known
      return train.select(col("doc_id"), lit(0L).as("n_hit_shingles"),
        lit(false).as("contaminated"))
    val bf = evalSh.stat.bloomFilter("s", nEval, 0.01)
    val bfBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos); bos.toByteArray
    }
    val mightHit = bridge.column(BloomFilterMightContain(
      Literal(bfBytes, BinaryType), bridge.expression(col("s"))))
    val hits = shingled(train).where(mightHit)
      .join(broadcast(evalSh), "s")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit_shingles"))
    train.select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hit_shingles"), lit(0L)).as("n_hit_shingles"),
        (coalesce(col("n_hit_shingles"), lit(0L)) > 0).as("contaminated"))
  }

  /** NEAR decontamination — the fuzzy companion of [[decontaminate]]:
    * exact 8-gram overlap catches verbatim leakage, but a lightly
    * paraphrased benchmark item shares no exact 8-gram while its 3-gram
    * Jaccard stays high. Here the held-out eval split is MinHash-indexed
    * ([[Dedup.buildIndex]] — eval data is small, the index trivially so)
    * and every training document probes it ([[Dedup.probeIndex]],
    * verbatim — the same oracle-checked machinery as incremental dedup
    * with the roles flipped). One row per TRAINING document: (doc_id,
    * eval_match, match_jaccard, contaminated_near) — nulls/false when
    * nothing in the eval split clears [[Dedup.JaccardThreshold]].
    *
    * 100 TB shape: identical to the ingestion probe — the corpus side
    * streams through band lookups against the small indexed eval split;
    * O(corpus) map work, candidate joins bounded by the band caps. */
  def nearDecontaminate(documents: DataFrame): DataFrame = {
    val isEval = col("doc_id") % EvalMod === EvalRem
    val docs = Tables.spread(documents)
    Dedup.probeIndex(Dedup.buildIndex(docs.where(isEval)), docs.where(!isEval))
      .select(col("doc_id"), col("match_id").as("eval_match"),
        col("match_jaccard"),
        col("match_id").isNotNull.as("contaminated_near"))
  }

  /** Artifact-served [[nearDecontaminate]] (VERDICT r11 #2): the eval
    * index AND the training-side probe signatures both derive from the
    * session signature artifact ([[Dedup.subsetIndex]] /
    * [[Dedup.subsetSigned]]) — the registered query re-signs nothing.
    * r11's inline form signed 95% of the corpus per run, and at
    * `eager = false` once more per consumer stage. */
  def nearDecontaminateArtifact(s: SparkSession, d: String): DataFrame = {
    val isEval = col("doc_id") % EvalMod === EvalRem
    val dr = Dedup.drArtifact(s, d)
    val (ws, _) = Dedup.sigArtifact(s, d)
    val trainSig = Dedup.subsetSigned(dr, ws, !isEval)
    Dedup.probeSigned(Dedup.subsetIndex(dr, ws, isEval),
        trainSig, Dedup.bandsOf(trainSig))
      .select(col("doc_id"), col("match_id").as("eval_match"),
        col("match_jaccard"),
        col("match_id").isNotNull.as("contaminated_near"))
  }

  /** Output shard count for [[shardPlan]] (a real corpus build picks
    * shards ≈ corpus_bytes / target_shard_bytes). */
  val NumShards = 32

  /** Deterministic output-shard planning — the write-side stage of a
    * corpus build: every document hashes to one of [[NumShards]] shards
    * (salted portable hash, independent of the sampling hash), and the
    * plan reports each shard's document count and byte mass so skew is
    * visible before the expensive write. At scale the same expression
    * feeds `repartitionByRange`/`partitionBy` for the actual write; the
    * stats are one map-side-combined aggregation. */
  def shardPlan(documents: DataFrame): DataFrame =
    documents
      .select(shardCol.as("shard"), col("n_chars"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))

  /** Shard-balance audit — the one-row skew verdict over [[shardPlan]]:
    * shard count, document mass, min/max shard weight, and max/mean
    * relative imbalance (the number that predicts the straggler task; a
    * healthy hash layout sits near 1). Output: (n_shards, n_docs,
    * min_chars, max_chars, max_skew).
    *
    * 100 TB shape: [[shardPlan]]'s one shrinking aggregation plus a
    * ≤[[NumShards]]-row rollup. */
  def shardBalance(documents: DataFrame): DataFrame =
    shardPlan(documents).agg(
        count(lit(1)).as("n_shards"),
        sum("n_docs").as("n_docs"),
        min("total_chars").as("min_chars"),
        max("total_chars").as("max_chars"),
        sum("total_chars").as("total_chars"))
      .select(col("n_shards"), col("n_docs"), col("min_chars"),
        col("max_chars"),
        round(col("max_chars").cast("double") * col("n_shards")
          / col("total_chars"), 6).as("max_skew"))

  /** Folds for [[kfoldPlan]]. */
  val KFolds = 5

  /** Deterministic k-fold assignment plan — the cross-validation split a
    * training-data pipeline publishes: every document lands in fold
    * `h32('fold:'‖doc_id) mod [[KFolds]]` (a pure filter any consumer
    * re-derives — no assignment table to ship), and the plan reports
    * each fold's document and token mass so imbalance is visible before
    * a single model trains. Output: (fold, n_docs, n_tokens).
    *
    * 100 TB shape: one map-side-combined rollup to [[KFolds]] rows; the
    * assignment predicate pushes to any scan that filters on it (the
    * [[sampleStratified]] salted-hash convention). */
  def kfoldPlan(documents: DataFrame): DataFrame =
    documents.select(
        (Dedup.h32(concat(lit("fold:"), col("doc_id").cast("string")))
          % KFolds).as("fold"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy("fold")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))

  /** The shard assignment expression (the hash [[shardPlan]] reports on). */
  private def shardCol: Column =
    Dedup.h32(concat(lit("shard:"), col("doc_id").cast("string"))) % NumShards

  /** Execute the shard plan: write the corpus hash-partitioned by shard
    * (`shard=K/` directories, one task's worth of files per shard via the
    * pre-write repartition). Reading back with a shard predicate prunes
    * at the DIRECTORY level — the scan never opens other shards' files
    * (pinned in `ShardedWriteSpec`). This is the write side the stats in
    * [[shardPlan]] preview; at 100 TB the same expression feeds the same
    * `partitionBy`, just with shards sized to the corpus. */
  def writeSharded(documents: DataFrame, outDir: String): Unit =
    documents
      .withColumn("shard", shardCol)
      .repartition(col("shard"))
      .write.partitionBy("shard").mode("overwrite").parquet(outDir)

  /** Salt for [[epochShuffle]]'s epoch-1 permutation (each epoch gets its
    * own salt, so consecutive epochs see independent orders). */
  val ShuffleEpoch = 1

  /** Deterministic training-epoch shuffle — the global permutation a
    * training run needs before sequence packing: every document draws a
    * per-epoch salted hash, lands in the shard `hash mod NumShards`, and
    * takes its hash-order position within that shard. Reading shards in
    * index order, each shard-locally by `pos`, replays a uniformly
    * pseudorandom permutation of the corpus — reproducible from the
    * epoch number alone (restart a crashed epoch mid-shard without
    * re-shuffling), and a different permutation per epoch by salt.
    * Output: (doc_id, shard, pos).
    *
    * 100 TB shape: ONE exchange (hash-partition by shard) and a
    * shard-local sort — never a global sort. A real build picks
    * NumShards ≈ corpus/target-shard-size, so the per-shard sort stays
    * bounded at any corpus size; the window is partitioned by shard,
    * which Spark executes as sort-within-partition after the exchange. */
  def epochShuffle(documents: DataFrame, epoch: Int = ShuffleEpoch): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    documents
      .select(col("doc_id"),
        Dedup.h32(concat(lit(s"ep$epoch:"), col("doc_id").cast("string"))).as("h"))
      .withColumn("shard", col("h") % NumShards)
      .withColumn("pos", row_number().over(
        Window.partitionBy("shard").orderBy(col("h").asc, col("doc_id").asc)))
      .select("doc_id", "shard", "pos")
  }

  /** Execute one epoch of the shuffle plan — [[epochShuffle]] made
    * material (VERDICT r16 #7, closing the plan→apply gap the
    * [[packPlan]]/[[packApply]] and `writeSharded` pairs already
    * closed): the epoch's permutation is WRITTEN as the sharded layout a
    * training reader consumes — `shard=K/` directories, each file's row
    * order = the plan's `pos` order (the `sortWithinPartitions` rides
    * the same exchange the assignment needs), full document payload
    * attached. Reading shards in index order, rows in file order,
    * replays the epoch's global permutation with directory-level pruning
    * per shard (pinned in `EpochShuffleApplySpec`, the `ShardedWriteSpec`
    * convention).
    *
    * 100 TB shape: ONE exchange (hash-partition by shard) shared by the
    * rank window and the partitioned write; payload joins on doc_id
    * before that exchange, so text moves through exactly one shuffle and
    * no global sort exists anywhere. */
  def writeEpochShuffled(documents: DataFrame, epoch: Int,
                         outDir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    // r18: the permutation is computed directly ON the payload rows —
    // [[epochShuffle]]'s (h, shard, pos) derive from doc_id alone, so the
    // former plan→payload self-join on doc_id (a second corpus scan plus
    // a join) and the post-join repartition were re-deriving a
    // partitioning the rank window already establishes. One corpus scan,
    // ONE exchange (the window's hash-partition by shard), and the
    // window's (shard | h, doc_id) sort IS (shard, pos) order, so the
    // partitioned write needs no extra sort. Identical rows and layout:
    // pos is the same row_number over the same key.
    val docCols = documents.columns.filter(_ != "doc_id").map(col)
    documents
      .withColumn("h",
        Dedup.h32(concat(lit(s"ep$epoch:"), col("doc_id").cast("string"))))
      .withColumn("shard", col("h") % NumShards)
      .withColumn("pos", row_number().over(
        Window.partitionBy("shard").orderBy(col("h").asc, col("doc_id").asc)))
      .select(Seq(col("doc_id"), col("shard"), col("pos")) ++ docCols: _*)
      .write.partitionBy("shard").mode("overwrite").parquet(outDir)
  }

  /** The epochs the registered apply face executes — two, so the
    * per-epoch salt independence is exercised by the oracle, not just
    * documented. */
  val ApplyEpochs: Seq[Int] = Seq(1, 2)

  /** The registered epoch-shuffle apply: write [[ApplyEpochs]] sharded
    * epoch layouts under the session artifact root (overwrite per run —
    * the WRITE is the operator), read them back through the partitioned
    * scan, and return the round-trip evidence one row per (epoch, doc):
    * (epoch, doc_id, shard, pos, n_chars). Hash-matching the DuckDB
    * mirror proves the written layout carries exactly the plan's
    * assignment AND the document payload — a torn write, a lost shard
    * directory, or a mis-partitioned row all surface as a hash break. */
  def epochShuffleApply(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val base = new org.apache.hadoop.fs.Path(
      graft.engine.Artifacts.root(s), "graft-epochshuffle-apply").toString
    // r18: BOTH epochs ride one pass — docs × epochs fan-out, the same
    // per-epoch salted hash ("ep<epoch>:<doc_id>" byte-identical to the
    // former per-epoch literal), ONE exchange funding the rank window
    // and the epoch/shard-partitioned write, one read-back. Formerly two
    // sequential write jobs each with its own corpus scan, plan→payload
    // join and exchange.
    val docCols = docs.columns.filter(_ != "doc_id").map(col)
    docs
      .withColumn("epoch", explode(typedLit(ApplyEpochs)))
      .withColumn("h", Dedup.h32(concat(lit("ep"), col("epoch").cast("string"),
        lit(":"), col("doc_id").cast("string"))))
      .withColumn("shard", col("h") % NumShards)
      .withColumn("pos", row_number().over(
        Window.partitionBy("epoch", "shard")
          .orderBy(col("h").asc, col("doc_id").asc)))
      .select(Seq(col("doc_id"), col("epoch"), col("shard"), col("pos")) ++
        docCols: _*)
      .write.partitionBy("epoch", "shard").mode("overwrite").parquet(base)
    s.read.parquet(base)
      // partition columns read back as int (inferred from the directory
      // name); the plan face emits int epoch / long shard — match it
      .select(col("epoch").cast("int").as("epoch"), col("doc_id"),
        col("shard").cast("long").as("shard"), col("pos"), col("n_chars"))
  }

  /** Token budget for [[tokenBudget]] (a real run passes the training
    * budget, e.g. 10B tokens; the selection logic is budget-agnostic). */
  val TokenBudget = 50000L

  /** Quality-greedy token-budget selection — "take the best documents
    * until the token budget is spent", the final gate of a data-constrained
    * training build. Equivalent to ordering the corpus by (quality desc,
    * doc_id asc) and keeping the maximal prefix whose token mass fits the
    * budget — but computed WITHOUT a global sort: documents land in
    * 1/1000-wide quality buckets, a ≤1001-row bucket ledger (broadcast)
    * decides full buckets map-side, and only the single boundary bucket
    * pays an ordered prefix-sum window. Output: (doc_id, quality,
    * n_tokens, keep).
    *
    * 100 TB shape: one map-side-combined bucket aggregation, a broadcast
    * of the tiny ledger, and an exchange carrying ONLY the boundary
    * bucket (~0.1% of the corpus) into one window sort; every other
    * document is decided by a codegen'd filter against broadcast state.
    * The bucket key floors `round(q·1000, 6)` so last-ulp float noise
    * cannot move a document across a bucket edge between engines. */
  def tokenBudget(documents: DataFrame, budget: Long = TokenBudget): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = lit(budget)
    // staged: `scored` feeds the bucket ledger AND both keep/boundary
    // branches — as one lazy frame each consumer re-runs the regex-heavy
    // quality scoring over the whole corpus (3 full passes in the
    // captured r17 plan). One scoring pass, three readers.
    val scored = graft.engine.Staging.stage(
      Tables.spread(documents).select(col("doc_id"),
        TextAnalysis.qualityScoreCol.as("quality"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("qb", floor(round(col("quality") * 1000, 6)).cast("int")))
    val wAbove = Window.orderBy(col("qb").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val ledger = scored.groupBy("qb").agg(sum("n_tokens").as("bucket_tok"))
      .withColumn("above", coalesce(sum("bucket_tok").over(wAbove), lit(0L)))
      .withColumn("full", col("above") + col("bucket_tok") <= b)
      .withColumn("boundary", !col("full") && col("above") < b)
    val j = scored.join(broadcast(ledger), "qb")
    val outCols = Seq(col("doc_id"), col("quality"), col("n_tokens"), col("keep"))
    val decided = j.where(!col("boundary"))
      .withColumn("keep", col("full")).select(outCols: _*)
    val wPrefix = Window.partitionBy("qb")
      .orderBy(col("quality").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val boundary = j.where(col("boundary"))
      .withColumn("prefix", coalesce(sum("n_tokens").over(wPrefix), lit(0L)))
      .withColumn("keep", col("above") + col("prefix") + col("n_tokens") <= b)
      .select(outCols: _*)
    decided.unionByName(boundary)
  }

  /** Dataset card — the one-page summary a published dataset ships
    * with, computed engine-side as (metric, value) rows: corpus size
    * (docs / tokens / chars), diversity (distinct langs / sources),
    * mean composite quality, the exact-duplicate rate (1 − distinct
    * digests / docs), and the share of documents carrying any PII hit
    * (all four [[TextAnalysis]] detectors). Counts and token masses are
    * exact integers cast to double at the very end; the two ratios are
    * one exact division each.
    *
    * 100 TB shape: ONE pass — a single map-side-combined aggregate over
    * the scan computes every non-distinct metric, the three distincts
    * ride Spark's Expand in the same aggregation, and the stack() that
    * reshapes 1×N to N×2 touches one row. No joins, no windows, no
    * second scan. */
  def datasetCard(documents: DataFrame): DataFrame = {
    import TextAnalysis.{PiiEmailRe, PiiIdRe, PiiIpv4Re, PiiPhoneRe}
    def hits(re: String) =
      size(regexp_extract_all(col("text"), lit(re), lit(0))) > 0
    val piiAny = hits(PiiEmailRe) || hits(PiiIdRe) ||
      hits(PiiIpv4Re) || hits(PiiPhoneRe)
    Tables.spread(documents).agg(
        count(lit(1)).as("n_docs"),
        count_distinct(col("lang")).as("n_langs"),
        count_distinct(col("source")).as("n_sources"),
        sum(size(split(col("text"), " ")).cast("long")).as("total_tokens"),
        sum(length(col("text")).cast("long")).as("total_chars"),
        avg(TextAnalysis.qualityScoreCol).as("mean_quality"),
        count_distinct(md5(col("text"))).as("n_uniq"),
        sum(when(piiAny, 1L).otherwise(0L)).as("n_pii"))
      .select(expr(
        """stack(9,
          |  'n_docs', CAST(n_docs AS DOUBLE),
          |  'n_langs', CAST(n_langs AS DOUBLE),
          |  'n_sources', CAST(n_sources AS DOUBLE),
          |  'total_tokens', CAST(total_tokens AS DOUBLE),
          |  'total_chars', CAST(total_chars AS DOUBLE),
          |  'mean_doc_tokens', CAST(total_tokens AS DOUBLE) / n_docs,
          |  'mean_quality', mean_quality,
          |  'exact_dup_rate', 1.0 - CAST(n_uniq AS DOUBLE) / n_docs,
          |  'pct_pii_docs', CAST(n_pii AS DOUBLE) / n_docs
          |) AS (metric, value)""".stripMargin))
  }

  /** Corpus length profile — the log₂-bucketed document-length
    * histogram every corpus report leads with (truncation spikes,
    * boilerplate combs, and empty-doc mass are all visible at a
    * glance): bucket k holds docs with token counts in [2^(k−1), 2^k).
    * The bucket index is `length(bin(n))` — an EXACT integer in both
    * engines — because `floor(log2(n))` computed as `ln n / ln 2` is
    * off-by-one at powers of two in IEEE arithmetic. Output: (bucket,
    * lo_tokens, n_docs, total_tokens, doc_share).
    *
    * 100 TB shape: one map-side-combined aggregation to ≤64 rows; the
    * share normalization is a window over that tiny result. */
  def lengthProfile(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    documents
      .select(size(split(col("text"), " ")).cast("long").as("n_tok"))
      .select(length(bin(greatest(col("n_tok"), lit(1L)))).as("bucket"),
        col("n_tok"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("total_tokens"))
      .select(col("bucket"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(bucket - 1 AS INT))")
          .as("lo_tokens"),
        col("n_docs"), col("total_tokens"),
        (col("n_docs").cast("double") /
          sum("n_docs").over(Window.partitionBy())).as("doc_share"))
  }

  /** Declared target mixture for [[mixPlan]] (shares of training tokens
    * per language; a real pipeline tunes these against eval loss).
    * Languages absent from the map get weight 0 — excluded from the mix. */
  val TargetMix: Seq[(String, Double)] =
    Seq("en" -> 0.35, "zh" -> 0.20, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.15)

  /** Upsampling cap for [[mixPlan]]: a stratum is never repeated more than
    * this many times (unbounded upsampling of a tiny stratum degrades to
    * memorization). */
  val MaxUpsample = 5.0

  /** Corpus-mixing plan — the domain-weighting stage: measure the corpus's
    * actual token composition per language and emit the sampling weight
    * that moves it to [[TargetMix]] (weight = target_share / actual_share,
    * capped at [[MaxUpsample]]; a weight < 1 downsamples, > 1 repeats).
    * One row per language present in the corpus:
    * (lang, n_docs, n_tokens, token_share, target_share, weight).
    *
    * 100 TB shape: one map-side-combined aggregation to ≤ #languages rows;
    * the share normalization is a single-partition window over that tiny
    * aggregate — driver-sized data, never the corpus. */
  def mixPlan(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perLang = documents
      .select(col("lang"), size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
    val share = col("n_tokens").cast("double") /
      sum("n_tokens").over(Window.partitionBy())
    val target = TargetMix.foldLeft(lit(0.0)) {
      case (acc, (l, t)) => when(col("lang") === l, lit(t)).otherwise(acc)
    }
    perLang.select(
      col("lang"), col("n_docs"), col("n_tokens"),
      share.as("token_share"),
      target.as("target_share"),
      least(target / share, lit(MaxUpsample)).as("weight"))
  }

  /** Temperature for [[temperatureMix]] — the α of p^α renormalized
    * sampling (mC4/mT5 use α ≈ 0.3 for language balancing): α = 1 keeps
    * the natural mix, α = 0 is uniform; 0.3 lifts long-tail sources
    * without the starve-the-head failure of a uniform mix. */
  val MixTemperature = 0.3

  /** Temperature-scaled source mixing — the declared-target-free
    * companion of [[mixPlan]]: where mixPlan needs a hand-tuned
    * [[TargetMix]] per stratum, the temperature rule DERIVES the target
    * from the corpus itself (q_s ∝ p_s^α, renormalized), which is how
    * multilingual/multi-source pretraining mixes are actually set when
    * no per-source eval exists. One row per source:
    * (source, n_docs, n_tokens, token_share, temp_share, weight) with
    * weight = temp_share / token_share (> 1 upsamples the tail).
    *
    * 100 TB shape: identical to [[mixPlan]] — one map-side-combined
    * aggregation to ≤ #sources rows; the share/renormalization windows
    * run over that driver-sized aggregate, never the corpus. */
  def temperatureMix(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perSource = documents
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
    val all = Window.partitionBy()
    val share = col("n_tokens").cast("double") / sum("n_tokens").over(all)
    val tempShare = col("p_alpha") / sum("p_alpha").over(all)
    perSource
      .withColumn("token_share", share)
      .withColumn("p_alpha", pow(col("token_share"), lit(MixTemperature)))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("token_share"),
        tempShare.as("temp_share"),
        (tempShare / col("token_share")).as("weight"))
  }

  /** Training-sequence token budget for [[packPlan]] (a real pipeline uses
    * the model context length, e.g. 2048/4096/8192). */
  val SeqTokenBudget = 256

  /** Sequence-packing plan — the write-side stage that turns a cleaned
    * corpus into fixed-budget training sequences by the standard
    * concat-and-chunk rule: within a shard, documents concatenate in
    * doc_id order and sequence k covers token positions
    * [k·B, (k+1)·B); a document belongs to the sequence its first token
    * lands in. One row per document:
    * (doc_id, shard, seq_id, tok_offset ∈ [0, B)).
    *
    * 100 TB shape: the only non-map work is a running sum per shard — a
    * window partitioned by the [[NumShards]]-way hash shard, so parallelism
    * = shard count (a real build sizes shards ∝ corpus bytes, keeping each
    * window's partition bounded); no global sort, no driver state. */
  def packPlan(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nTok = size(split(col("text"), " ")).cast("long")
    val shard = shardCol.as("shard")
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.spread(documents)
      .select(col("doc_id"), shard, nTok.as("n_tok"))
      .withColumn("cum_before", coalesce(sum("n_tok").over(w), lit(0L)))
      .select(col("doc_id"), col("shard"),
        (col("cum_before") / SeqTokenBudget).cast("long").as("seq_id"),
        (col("cum_before") % SeqTokenBudget).as("tok_offset"))
  }

  /** Execute the packing plan — [[packPlan]] made material, completing the
    * plan→apply pairs ([[mixPlan]]/[[mixApply]], [[shardPlan]]/
    * `writeSharded`, [[dsirWeights]]/[[dsirApply]]): every document's
    * token stream is cut at the [[SeqTokenBudget]] boundaries the plan
    * assigned (a document spanning a boundary contributes a piece to EACH
    * sequence it crosses — the concat-and-chunk discipline that gives
    * training sequences with zero padding), and each (shard, seq_id)
    * collects its pieces in doc_id order into the packed sequence text.
    * Output: (shard, seq_id, n_docs, n_tokens, seq_text); every sequence
    * except each shard's last carries exactly the budget
    * (`CrossOpInvariantSpec` pins this and total token conservation).
    *
    * 100 TB shape: the same per-shard running-sum window as the plan (32
    * independent partitions — parallelism is the shard count, no global
    * sort), a bounded explode (a doc touches ⌈n_tok/budget⌉+1 sequences),
    * and one groupBy(shard, seq_id) whose per-group state is one
    * budget-sized sequence. Writing shard-partitioned output then prunes
    * at the directory level exactly like `writeSharded`. */
  def packApply(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val planned = Tables.spread(documents)
      .select(col("doc_id"), shardCol.as("shard"), split(col("text"), " ").as("t"))
      .withColumn("n_tok", size(col("t")).cast("long"))
      .withColumn("cum_before", coalesce(sum("n_tok").over(w), lit(0L)))
    val B = SeqTokenBudget
    val pieces = planned
      .select(col("shard"), col("doc_id"), col("t"), col("n_tok"), col("cum_before"),
        explode(sequence(expr(s"cum_before div $B"),
          expr(s"(cum_before + n_tok - 1) div $B"))).as("seq_id"))
      .select(col("shard"), col("seq_id"), col("doc_id"),
        greatest(lit(0L), col("seq_id") * B - col("cum_before")).as("p_start"),
        least(col("n_tok"), (col("seq_id") + 1) * B - col("cum_before")).as("p_end"),
        col("t"))
      .select(col("shard"), col("seq_id"), col("doc_id"),
        (col("p_end") - col("p_start")).as("p_len"),
        concat_ws(" ", slice(col("t"), (col("p_start") + 1).cast("int"),
          (col("p_end") - col("p_start")).cast("int"))).as("piece"))
    pieces.groupBy("shard", "seq_id").agg(
      count(lit(1)).as("n_docs"),
      sum("p_len").as("n_tokens"),
      concat_ws(" ", transform(
        array_sort(collect_list(struct(col("doc_id"), col("piece")))),
        x => x.getField("piece"))).as("seq_text"))
  }

  /** Chunk width in tokens for [[chunkPlan]] (a real pipeline uses the
    * embedding-model context length, e.g. 512). */
  val ChunkTokens = 64

  /** Chunk stride: consecutive chunks start this many tokens apart, so
    * each overlaps the next by [[ChunkTokens]] − [[ChunkStride]] tokens
    * (overlap preserves context across chunk boundaries for retrieval). */
  val ChunkStride = 48

  /** Per-document chunking with overlap — the retrieval/embedding prep
    * stage that cuts every document into fixed-width token windows:
    * chunk i covers [i·stride, i·stride + width) ∩ [0, n_tok), and the
    * final chunk is the first one whose window reaches the end of the
    * document. One row per chunk: (doc_id, chunk_idx, tok_start,
    * tok_len).
    *
    * 100 TB shape: a map-only projection + generator — the chunk index
    * list is computed per row and exploded in the same stage; no shuffle,
    * no state, pipelines straight into a downstream embed/write. */
  def chunkPlan(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"))
      .select(col("doc_id"), col("n_tok"),
        posexplode(sequence(lit(0L), lastChunkIdx(col("n_tok")))))
      .select(col("doc_id"), col("col").as("chunk_idx"),
        (col("col") * ChunkStride).as("tok_start"),
        least(lit(ChunkTokens.toLong), col("n_tok") - col("col") * ChunkStride)
          .as("tok_len"))

  /** Last chunk index for a document of `nTok` tokens under the
    * [[ChunkTokens]]/[[ChunkStride]] geometry: integer
    * ceil((nTok − width) / stride), 0 when one chunk suffices. The ONE
    * geometry definition, shared by [[chunkPlan]] and
    * [[Dedup.chunkExact]] — the two chunk-grain operators must cut
    * identical windows or passage-dedup verdicts stop aligning with the
    * chunks a retrieval build actually emits. `nTok` must be a
    * BIGINT column (truncating cast after `/` is exact: the numerator is
    * positive and far below 2^52). */
  private[operators] def lastChunkIdx(nTok: Column): Column =
    when(nTok <= ChunkTokens, lit(0L))
      .otherwise(((nTok - ChunkTokens + ChunkStride - 1) / ChunkStride)
        .cast("long"))

  /** The composed corpus build, end to end: [[clean]] (dedup → repetition
    * → quality) keeps survivors, the stratified sample thins them, and
    * [[packPlan]] assigns the remainder to training sequences — one
    * registered query proving the stages compose with consistent
    * semantics (the pack plan's running sums are computed over exactly
    * the post-filter population, not the raw corpus).
    *
    * 100 TB shape: the gates are scan-stage filters plus the digest
    * shuffle [[clean]] already costs; the pack window still partitions by
    * shard. No stage materializes the dropped rows. */
  def endToEnd(documents: DataFrame): DataFrame = {
    val kept = clean(documents).where(col("keep")).select("doc_id")
    packPlan(documents.join(kept, "doc_id").where(sampleKeep))
  }

  /** Per-(source, lang) corpus profile — the data-mixing dashboard every
    * corpus build reviews before setting sampling weights: document and
    * token mass, mean quality score (the same fixed-weight composite the
    * cleaning gate uses — [[TextAnalysis.qualityScoreCol]], one shared
    * definition), and the exact-duplicate rate (fraction of documents
    * whose content also appears under a smaller doc_id — the same
    * md5-collapse convention as [[Dedup.docReps]]). One row per (source,
    * lang): (source, lang, n_docs, n_tokens, avg_quality, n_exact_dups,
    * dup_rate).
    *
    * 100 TB shape: per-doc signals are scan-stage projections; the dup
    * flag costs the one digest-keyed shuffle [[clean]] already pays; the
    * profile itself is a map-side-combined aggregation with (source,
    * lang) cardinality output. */
  def sourceProfile(documents: DataFrame): DataFrame = {
    val docs = Tables.spread(documents)
    val flagged = docs.join(Dedup.docReps(docs), "doc_id")
      .select(col("source"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        TextAnalysis.qualityScoreCol.as("q"),
        (col("doc_id") =!= col("rep")).cast("long").as("is_dup"))
    flagged.groupBy("source", "lang").agg(
      count(lit(1)).as("n_docs"),
      sum("n_tok").as("n_tokens"),
      avg("q").as("avg_quality"),
      sum("is_dup").as("n_exact_dups"),
      (sum("is_dup").cast("double") / count(lit(1))).as("dup_rate"))
  }

  /** Vocabulary cap for [[klDivergence]] — the distribution is modeled
    * over the top-V corpus words so the per-source model is a bounded,
    * broadcastable table at any corpus scale (the long tail folds into
    * add-one smoothing mass). */
  val KlVocabSize = 512

  /** Per-source unigram KL divergence against the whole corpus — the
    * distribution-shift diagnostic behind data-mixing decisions (the
    * question DSIR answers per DOCUMENT, asked per SOURCE): for each
    * source s, KL(P_s ‖ P_corpus) over the top-[[KlVocabSize]] corpus
    * vocabulary with add-one smoothing (both sides normalized over the
    * same V-word support, so KL ≥ 0 and a source that mirrors the corpus
    * mix scores ≈ 0; an off-distribution source scores high — the
    * candidates for reweighting or curriculum placement). One row per
    * source: (source, vocab_tokens, n_vocab_present, kl_nats).
    *
    * Numerics: the present-word sum is taken TERM-WISE
    * (p·(ln p − ln q), each term O(p)) rather than via the algebraic
    * Σ(c+1)ln(c+1) decomposition — the decomposed aggregates are
    * den-scaled and their difference cancels catastrophically past the
    * oracle's 1e-9 tolerance; term-wise partial sums stay O(1). The
    * absent-word mass is closed-form ((V−m)·a·ln a − a·(S_q − D),
    * a = 1/(tot_s+V)), so NO dense source×vocab join ever forms.
    *
    * 100 TB shape: one token-grain map-side-combined (source, word)
    * count, staged once for its three consumers; the vocabulary is a
    * TakeOrdered top-V (per-partition heaps, no global sort) joined back
    * by BROADCAST; everything after the count runs at ≤ #sources·V rows. */
  /** The (source, word) count grain every KL face opens with. */
  private def klCountsOf(documents: DataFrame): DataFrame =
    // r18: per-doc cells via native GramCounts — the (source, word)
    // rollup sums cells, never instances (identical exact counts)
    documents
      .select(col("source"), explode(
        graft.functions.GramCounts.of(lower(col("text")), 1)).as("tc"))
      .groupBy(col("source"), col("tc.gram").as("word"))
      .agg(sum(col("tc.cnt")).as("cnt_sw"))

  /** The batch entry: spread the parquet scan first (micro-batches skip
    * this — see [[klScoreAgainst]]). */
  private def klCounts(documents: DataFrame): DataFrame =
    klCountsOf(Tables.spread(documents))

  /** The frozen reference model: top-V vocabulary with smoothed
    * log-probabilities plus the model constants repeated per row
    * (word, ln_q, n_v, s_q) — one broadcastable V-row frame, the
    * train-offline artifact the probe and streaming faces score against. */
  def klModelFromCounts(sw: DataFrame): DataFrame = {
    val vocab = sw.groupBy("word").agg(sum("cnt_sw").as("cnt_w"))
      .orderBy(col("cnt_w").desc, col("word").asc).limit(KlVocabSize)
    // smoothing support is the ACTUAL vocabulary size n_v (≤ the cap):
    // smoothing over the constant cap would leave both sides
    // sub-normalized on a corpus narrower than V words and the KL could
    // go negative — with n_v both p and q sum to exactly 1 over the
    // vocabulary, so KL ≥ 0 always
    val stats = vocab.agg(sum("cnt_w").as("tot_c"), count(lit(1)).as("n_v"))
    val vq = vocab.crossJoin(broadcast(stats))
      .select(col("word"),
        log((col("cnt_w") + 1).cast("double")
          / (col("tot_c") + col("n_v"))).as("ln_q"), col("n_v"))
    vq.crossJoin(broadcast(vq.agg(sum("ln_q").as("s_q"))))
  }

  /** Score a (source, word) count frame against a frozen model — the
    * shared leg of the registered, probe, and streaming faces. Every
    * source with ≥1 token gets a row, INCLUDING a source with zero
    * in-vocabulary words: the all-OOV case is the most extreme drift a
    * monitor can see, so it must surface as a (vocab_tokens = 0,
    * n_vocab_present = 0) row scoring the uniform-vs-model KL — an
    * inner join to the vocab would silently drop exactly the batch that
    * most needs the alarm. */
  def klScoreFromCounts(model: DataFrame, sw: DataFrame): DataFrame = {
    val consts = model.select(col("n_v"), col("s_q")).limit(1)
    // ONE left-join pass over the counts carries the source universe and
    // the in-vocab aggregates together (an OOV word rides with ln_q
    // null), so the all-OOV row costs no extra scan; every joined or
    // broadcast side after the counts is ≤ #sources (or V) rows
    val lj = sw.join(broadcast(model.select(col("word"), col("ln_q"))),
      Seq("word"), "left")
    val totals = lj.groupBy("source")
      .agg(coalesce(sum(when(col("ln_q").isNotNull, col("cnt_sw"))), lit(0L))
          .as("tot_s"),
        count(col("ln_q")).as("m"))
      .crossJoin(broadcast(consts))
    val den = (col("tot_s") + col("n_v")).cast("double")
    val p = (col("cnt_sw") + 1).cast("double") / col("den")
    val termAgg = lj.where(col("ln_q").isNotNull)
      .join(broadcast(totals.select(col("source"), col("tot_s"), col("n_v"))),
        "source")
      .withColumn("den", den)
      .select(col("source"), (p * (log(p) - col("ln_q"))).as("t"), col("ln_q"))
      .groupBy("source")
      .agg(sum("t").as("t_present"), sum("ln_q").as("d"))
    totals
      .join(broadcast(termAgg), Seq("source"), "left")
      .withColumn("den", den)
      .select(col("source"), col("tot_s").as("vocab_tokens"),
        col("m").as("n_vocab_present"),
        (coalesce(col("t_present"), lit(0.0))
          - (col("n_v") - col("m")).cast("double") * log(col("den")) / col("den")
          - (col("s_q") - coalesce(col("d"), lit(0.0))) / col("den"))
          .as("kl_nats"))
  }

  /** The streaming face's scoring entry: arriving documents against the
    * frozen model ([[graft.streaming.StreamingScorer]] calls this per
    * micro-batch, so a streamed document scores exactly like the batch
    * probe). Counts the micro-batch as-is — [[Tables.spread]] exists for
    * single-row-group parquet scans, a condition a micro-batch never
    * has, and would add a corpus-width shuffle per trigger. */
  def klScoreAgainst(model: DataFrame, documents: DataFrame): DataFrame =
    klScoreFromCounts(model, klCountsOf(documents))

  /** Train the frozen reference model on a corpus snapshot (counts
    * staged: the vocab/stats/s_q chain reads them three times).
    *
    * Fails LOUDLY on an empty snapshot: [[klScoreFromCounts]] attaches
    * the model constants by join, so an empty model silently empties
    * every score — and a drift monitor wired to a mis-pathed resident
    * corpus would emit nothing for exactly the batches that most need an
    * alarm (ADVICE r10). The check is one action on the staged V-row
    * counts at train time — once per session, never per probe. */
  def klModelOf(documents: DataFrame): DataFrame = {
    // model staged, not just its counts: every per-batch scoring plan
    // references the model several times, and a frozen-model face scores
    // MANY batches — without staging, each reference of each batch
    // rebuilds the vocab/stats/s_q chain (same finding as
    // [[klDivergence]]'s 46-scan plan)
    val model = graft.engine.Staging.stage(
      klModelFromCounts(graft.engine.Staging.stage(klCounts(documents))))
    require(!model.isEmpty,
      "klModelOf: the reference corpus snapshot has no tokens — a frozen " +
        "empty model would silently zero-row every probe; point the " +
        "monitor at a non-empty resident corpus")
    model
  }

  def klDivergence(documents: DataFrame): DataFrame = {
    val sw = graft.engine.Staging.stage(klCounts(documents))
    // the model is referenced from several places in the scoring plan
    // (constants, the ln_q attach, the per-source totals chain), and each
    // DataFrame reference duplicates the whole vocab/stats/s_q build
    // subtree — the captured r17 plan re-scanned the staged counts 46
    // times through those copies. Staging the ≤V-row model collapses the
    // build to one pass (guide §2.4: shared subtrees should share one
    // materialization).
    klScoreFromCounts(graft.engine.Staging.stage(klModelFromCounts(sw)), sw)
  }

  /** Distribution-drift probe — the train-offline / score-online split
    * of [[klDivergence]] (the [[dsirProbe]] / novelty-probe convention):
    * the reference model freezes on the RESIDENT corpus
    * (doc_id % [[Dedup.IncomingMod]] ≠ 0) and the INCOMING slice scores
    * against it per source — the monitor that catches a crawl whose
    * token distribution is drifting away from the corpus it is about to
    * join, BEFORE it is admitted. Same output grain as the registered
    * query; [[klScoreAgainst]] on [[graft.streaming.StreamingScorer]] runs
    * the identical scoring per micro-batch. Read BOTH columns: kl_nats
    * alarms on within-vocab distribution shift; OUT-of-vocabulary drift
    * is invisible to a vocab-capped KL by construction and alarms as
    * `vocab_tokens` collapsing against the slice's raw token count
    * (pinned in `StreamingKlSpec`).
    *
    * 100 TB shape: the model is a once-built broadcastable V-row
    * artifact; per-probe cost is one map-side-combined count of the
    * incoming slice plus broadcast joins — O(incoming), independent of
    * corpus size. */
  def klProbe(documents: DataFrame): DataFrame = {
    val isIncoming = col("doc_id") % Dedup.IncomingMod === 0
    // the scoring counts feed two consumers (totals, term sums) — staged
    // like klDivergence's, so the incoming tokenization runs once
    // both count frames feed multiple consumers (the model's vocab/stats/
    // s_q chain; the scorer's totals and term sums) — staged like
    // klDivergence's, so each slice tokenizes exactly once
    klScoreFromCounts(
      // staged for the same reason as [[klDivergence]]'s model: the score
      // plan references the model repeatedly and would rebuild it per
      // reference
      graft.engine.Staging.stage(klModelFromCounts(
        graft.engine.Staging.stage(klCounts(documents.where(!isIncoming))))),
      graft.engine.Staging.stage(klCounts(documents.where(isIncoming))))
  }

  // ---- DSIR importance weights ---------------------------------------------

  /** Hashed-feature dimension for [[dsirWeights]] — small enough that the
    * bucket model is a broadcast table at any corpus scale, large enough
    * that the synthetic 31-term vocabulary (plus its bigrams) genuinely
    * spreads. */
  val DsirBuckets = 64

  /** Target-domain predicate of the registered query: English documents
    * stand in for the "formal/high-quality domain" a DSIR run resamples
    * toward. */
  val DsirTargetLang = "en"

  /** Probe target modulus: selects the single doc_id 0 (ids are dense
    * from 0 and test corpora stay far below this), so the target model
    * sees ~one document's grams and MUST leave buckets empty — firing the
    * zero-count smoothing branch on both engines, which the registered
    * query's 200+-doc English target never does. */
  val DsirProbeMod = 100000

  /** Data Selection via Importance Resampling weights (Xie et al. 2023,
    * "DSIR") — the learned-from-data cousin of the fixed-weight
    * classifier gate: estimate two multinomial bag-of-hashed-ngram models
    * (unigrams + word bigrams hashed into [[DsirBuckets]] buckets) — one
    * on the TARGET domain slice, one on the full RAW corpus — and score
    * every document by its log importance weight
    * `Σ_feature count·(ln p̂_target(b) − ln p̂_raw(b))` with add-half
    * smoothing. Documents whose feature profile leans toward the target
    * domain score > 0 and are the ones importance resampling keeps.
    * Output: (doc_id, n_feats, log_weight).
    *
    * 100 TB shape: the feature table is one explode → per-(doc, bucket)
    * map-side-combined count; both bucket models are [[DsirBuckets]]-row
    * aggregates joined back by BROADCAST (never a corpus shuffle); the
    * per-doc reduction is a two-phase agg over ≤[[DsirBuckets]] rows per
    * document. The staged feature table is scanned three times
    * (raw model, target model, scoring) — the [[graft.engine.Staging]]
    * policy decides where that materializes. */
  def dsirWeights(documents: DataFrame): DataFrame =
    dsirWeightsBy(documents, col("lang") === DsirTargetLang)

  /** [[dsirWeights]] with the ~single-doc target slice — proves the
    * empty-target-bucket smoothing branch cross-engine. */
  def dsirProbe(documents: DataFrame): DataFrame =
    dsirWeightsBy(documents, pmod(col("doc_id"), lit(DsirProbeMod)) === 0)

  private[operators] def dsirWeightsBy(documents: DataFrame, isTarget: Column): DataFrame = {
    // r18: the staged frame is the PRE-AGGREGATED (doc, bucket) count
    // table, not the raw per-gram-instance explode — ≤[[DsirBuckets]]
    // rows per document instead of one per token/bigram. The instance
    // counts collapse map-side in the staging pass; both bucket models
    // become sums over it and the scorer consumes `c` directly (its
    // former groupBy over the full instance frame is gone).
    val fc = graft.engine.Staging.stage(
      dsirDocBuckets(Tables.spread(documents), isTarget))
    dsirScoreFrom(fc.select("doc_id", "b", "c"),
      graft.engine.Staging.stage(dsirModelFrom(fc)))
  }

  /** Per-(doc, bucket) feature counts of a document frame — r18: one
    * native [[graft.functions.DsirBucketCounts]] pass per row (unigram +
    * bigram hashing over byte ranges; identical exact counts, see its
    * equivalence note) instead of the per-instance gram explode +
    * groupBy(doc_id, is_tgt, b): the instance-level hash aggregate and
    * its Exchange are gone at any scale — the feature table is born
    * pre-aggregated map-side. is_tgt is constant per document and rides
    * the same projection. */
  private def dsirDocBuckets(documents: DataFrame, isTarget: Column): DataFrame =
    documents
      .select(col("doc_id"), isTarget.as("is_tgt"),
        explode(graft.functions.DsirBucketCounts.of(
          lower(col("text")), DsirBuckets)).as("bc"))
      .select(col("doc_id"), col("is_tgt"),
        col("bc.b").as("b"), col("bc.c").as("c"))

  /** The [[DsirBuckets]]-row bucket model (b, rc, tc) from a
    * per-(doc, bucket) count table — raw instance counts and
    * target-slice instance counts (sums of `c` == the former counts over
    * raw instances, exactly). */
  private def dsirModelFrom(fc: DataFrame): DataFrame = {
    val raw = fc.groupBy("b").agg(sum("c").as("rc"))
    val tgt = fc.where(col("is_tgt")).groupBy("b").agg(sum("c").as("tc"))
    raw.join(tgt, Seq("b"), "left")
      .select(col("b"), col("rc"), coalesce(col("tc"), lit(0L)).as("tc"))
  }

  /** Score a per-(doc, bucket) count table (doc_id, b, c) against a
    * (possibly frozen) bucket model. The model attach is a LEFT
    * broadcast join with zero-coalesce, so a serving-time bucket the
    * training corpus never produced scores as an unseen feature (both
    * counts 0) instead of silently dropping. */
  private def dsirScoreFrom(fb: DataFrame, model: DataFrame): DataFrame = {
    val totals = model.agg(sum("rc").cast("double").as("rn"),
      sum("tc").cast("double").as("tn"))
    val half = lit(DsirBuckets / 2.0) // αB with α = 1/2
    val lw = (log(coalesce(col("tc"), lit(0L)).cast("double") + 0.5) -
        log(col("tn") + half)) -
      (log(coalesce(col("rc"), lit(0L)).cast("double") + 0.5) -
        log(col("rn") + half))
    fb.join(broadcast(model), Seq("b"), "left")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), col("c"), (col("c").cast("double") * lw).as("w"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_feats"), sum("w").as("log_weight"))
  }

  /** Train the standalone DSIR bucket-model artifact — the offline half
    * of the train-once / score-online split
    * ([[dsirScore]] on [[graft.streaming.StreamingScorer]] is the online half). */
  def dsirModel(documents: DataFrame, isTarget: Column): DataFrame =
    dsirModelFrom(graft.engine.Staging.stage(
      dsirDocBuckets(Tables.spread(documents), isTarget)))

  /** Score incoming documents against a FROZEN bucket model — identical
    * arithmetic to the registered query, so a streamed document gets
    * exactly the batch weight (`StreamingDsirSpec`). */
  def dsirScore(model: DataFrame, incoming: DataFrame): DataFrame =
    dsirScoreFrom(
      dsirDocBuckets(incoming, lit(false))
        .select("doc_id", "b", "c"),
      model)

  /** Persist / reload the bucket model: [[DsirBuckets]] rows of
    * (b, rc, tc) as plain parquet — broadcast-sized at any corpus scale,
    * same convention as [[Similarity.saveCentroids]] /
    * [[TextAnalysis.saveMerges]]. */
  def saveDsirModel(model: DataFrame, outDir: String): Unit =
    model.coalesce(1).write.mode("overwrite").parquet(outDir)

  def loadDsirModel(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** Number of curriculum phases (quartiles of the difficulty proxy). */
  val CurriculumPhases = 4

  /** Curriculum-learning phase assignment — order the corpus easy→hard
    * by the LM-surprisal difficulty proxy (curriculum training feeds
    * predictable text first and rare/complex text later; unigram
    * cross-entropy is the engine's exactly-computable stand-in for the
    * reference-LM difficulty score): each document gets the quartile of
    * its [[TextAnalysis.unigramSurprisal]] cross-entropy, phase 1 =
    * most predictable. The score is 1e-6-rounded BEFORE the exact
    * quantile thresholds are taken and compared — the
    * [[TextAnalysis.qualityDeciles]] discipline, so cross-engine
    * interpolation ulps cannot flip a phase. Output: (doc_id, ce,
    * phase).
    *
    * 100 TB shape: the surprisal pipeline's one term-keyed shuffle, then
    * a 1-row broadcast threshold frame and a per-row fold — labeling
    * adds no shuffle. */
  def curriculum(documents: DataFrame): DataFrame =
    curriculumFrom(TextAnalysis.unigramSurprisal(documents))

  /** [[curriculum]] core over an already-scored surprisal frame — the
    * face the session model artifact feeds (the registry scores via
    * [[TextAnalysis.surprisalModelArtifact]] so the suite's unigram model
    * is built once, not once per consumer). */
  def curriculumFrom(surprisal: DataFrame): DataFrame = {
    val scored = surprisal
      .select(col("doc_id"), round(col("cross_entropy"), 6).as("ce"))
    val qs = (1 until CurriculumPhases).map(_.toDouble / CurriculumPhases)
    val ths = scored.agg(percentile(col("ce"), typedLit(qs)).as("ths"))
    scored.join(broadcast(ths))
      .select(col("doc_id"), col("ce"),
        (size(filter(col("ths"), t => col("ce") >= t)) + 1).as("phase"))
  }

  /** Execute the curriculum — the phase assignment made a training ORDER
    * (VERDICT r16 #7, [[curriculum]]'s apply face): within each phase
    * documents rank easy→hard by (ce asc, doc_id asc), the global
    * position adds the earlier phases' counts from a
    * ≤[[CurriculumPhases]]-row broadcast offset ledger (a global
    * training order with NO global sort), and each phase's documents
    * concat-and-chunk into [[SeqTokenBudget]]-token training sequences
    * in that order — [[packPlan]]'s rule applied to the curriculum
    * order, so phase boundaries are sequence boundaries (a sequence
    * never mixes difficulty phases). One row per document:
    * (doc_id, phase, pos, global_pos, seq_id).
    *
    * 100 TB shape: ONE exchange (hash-partition by phase) funds the
    * rank window and the running token sum; the offset ledger is
    * ≤4 rows (its ordering window is over the LEDGER, a documented
    * bounded-ledger exception); everything after is a broadcast join
    * and per-row arithmetic. A real build uses shard×phase window keys
    * to bound partition width — the composition [[epochShuffle]]
    * already demonstrates. */
  def curriculumApplyFrom(cur: DataFrame, documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = documents.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tok"))
    val w = Window.partitionBy("phase").orderBy(col("ce").asc, col("doc_id").asc)
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    // staged: `ordered` feeds both the offset ledger and the final select;
    // as one lazy frame each consumer re-runs the curriculum subtree
    // (surprisal scan + percentile + join + two windows) — the captured
    // r17 plan scanned the surprisal artifact 14 times through those
    // copies
    val ordered = graft.engine.Staging.stage(cur.join(toks, "doc_id")
      .withColumn("pos", row_number().over(w).cast("long"))
      .withColumn("cum_before", coalesce(sum("n_tok").over(wPrev), lit(0L))))
    // r18: the offset ledger is ≤[[CurriculumPhases]] rows (a constant) —
    // collect the per-phase counts and inline the offsets as a literal
    // map instead of paying two exchanges + a single-partition window +
    // a broadcast build for a 4-row frame (the bounded-ledger precedent,
    // driver-side this time; guide: driver round-trips vs fixed stages)
    val counts = ordered.groupBy("phase").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets: Map[Int, Long] = {
      var cum = 0L
      counts.map { case (p, n) => val o = p -> cum; cum += n; o }.toMap
    }
    ordered
      .select(col("doc_id"), col("phase"), col("pos"),
        (col("pos") +
          coalesce(element_at(typedLit(offsets), col("phase")), lit(0L)))
          .as("global_pos"),
        (col("cum_before") / SeqTokenBudget).cast("long").as("seq_id"))
  }

  /** Execute the DSIR selection — importance RESAMPLING over
    * [[dsirWeights]]' oracle-checked scores, closing the loop the paper's
    * name promises (Xie et al. 2023: score, then resample): each document
    * is kept with probability `min(1, exp(log_weight))` via the salted
    * portable hash (the [[mixApply]] convention), so the surviving corpus
    * is the raw corpus reweighted toward the target domain,
    * deterministically (same keep-set on every run/engine). Documents
    * leaning INTO the target (log_weight ≥ 0) always survive; documents
    * leaning away are thinned in proportion to how far they lean. Output
    * (doc_id, log_weight, rate) for kept documents; the kept-mass-moves-
    * toward-target invariant is pinned in `CrossOpInvariantSpec`.
    *
    * 100 TB shape: inherits the scoring pipeline's (broadcast bucket
    * model, one per-doc aggregation); the keep test is a pure per-row
    * predicate on the weight frame — no new shuffle, no state. */
  def dsirApply(documents: DataFrame): DataFrame =
    dsirApplyFrom(dsirWeights(documents))

  /** [[dsirApply]] over an ALREADY-SCORED weight table (doc_id, …,
    * log_weight) — the face the registry serves from the session weight
    * artifact so the suite pays DSIR scoring once, not once per
    * consumer. */
  def dsirApplyFrom(weights: DataFrame): DataFrame = {
    val rate = least(lit(1.0), exp(col("log_weight")))
    weights
      .select(col("doc_id"), col("log_weight"), rate.as("rate"))
      .where(Dedup.h32(concat(lit("dsir:"), col("doc_id").cast("string"))) % 1000
        < col("rate") * 1000.0)
  }

  /** Effective sample size of the DSIR importance weights — the one-row
    * health check importance sampling REQUIRES before anyone trains on
    * the resampled corpus: ESS = (Σw)²/Σw² over w = exp(log_weight).
    * ess_frac near 1 means the weights are flat (resampling is safe but
    * pointless); near 0 means a few documents dominate the target mass
    * (variance blows up — clip or retrain the model before trusting
    * [[dsirApply]]'s selection). Output: (n_docs, ess, ess_frac,
    * mean_w, max_w).
    *
    * 100 TB shape: rides the weight computation (broadcast bucket model,
    * map-side partial sums); the finisher is a single global aggregate
    * of four running sums — constant state at any corpus size. */
  def dsirEss(documents: DataFrame): DataFrame =
    dsirEssFrom(dsirWeights(documents))

  /** [[dsirEss]] over an already-scored weight table. */
  def dsirEssFrom(weights: DataFrame): DataFrame =
    weights
      .select(exp(col("log_weight")).as("w"))
      .agg(count(lit(1)).as("n_docs"), sum("w").as("sw"),
        sum(col("w") * col("w")).as("sw2"), max("w").as("max_w"))
      .select(col("n_docs"),
        (col("sw") * col("sw") / col("sw2")).as("ess"),
        (col("sw") * col("sw") / col("sw2") / col("n_docs")).as("ess_frac"),
        (col("sw") / col("n_docs")).as("mean_w"),
        col("max_w"))

  /** Score-once / consume-many memo for the DSIR weight table — the
    * [[graft.operators.Dedup.lshClusterArtifact]] convention: the first
    * consumer in a session materializes [[dsirWeights]] as a parquet
    * artifact (the weight ledger a production importance-sampling
    * pipeline publishes); the weights query itself, the resampler, and
    * the ESS check all reopen it as a columnar scan. At 100 TB this is
    * the difference between one corpus scoring pass and one per
    * consumer. (The probe face keeps its own computation — it scores
    * against a DIFFERENT target slice by design.) */
  def dsirWeightsArtifact(s: SparkSession, d: String): DataFrame = {
    val path = graft.engine.Artifacts.durable(s, "dsirweights", d) { tmp =>
      dsirWeights(Tables.documents(s, d)).write.mode("overwrite").parquet(tmp)
    }
    s.read.parquet(path)
  }

  /** Cross-signal correlation report — the dataset-diagnostics face an
    * analyst runs before trusting any single filter: Pearson r between
    * the per-document quality score, cross-document novelty, and token
    * count, over the documents where all three signals are defined
    * (novelty needs ≥[[TextAnalysis.NoveltyN]] tokens). A strong
    * quality~novelty correlation means the two filters are redundant; a
    * negative quality~tokens one means the quality score is secretly a
    * length gate — exactly the biases a mixed filter stack hides.
    * Output: (pair, n_docs, r), r rounded 6, NULL when a signal is
    * constant.
    *
    * Engine-parity design: the three signals are scaled to EXACT 64-bit
    * integers (quality and novelty arrive 6-dp-rounded, ×10⁶ makes them
    * integral), so every Pearson sum is an order-independent integer and
    * r is one fixed-shape double expression over identical operands on
    * both engines — no order-dependent float accumulation anywhere. The
    * integer envelope holds while n·Σxy stays under 2⁶³ (≈10⁶ docs at
    * these scalings); past that the sums want the doc'd cast-first
    * variant ([[TextAnalysis.collocations]]' convention).
    *
    * 100 TB shape: the quality+tokens signals ride one map-only scan,
    * novelty contributes its own three shrinking exchanges, the join is
    * doc-keyed, and everything after is a single 1-row aggregate. */
  def metricCorr(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val base = Tables.spread(docs).select(col("doc_id"),
      round(TextAnalysis.qualityScoreCol * 1e6, 0).cast("long").as("x"),
      size(split(col("text"), " ")).cast("long").as("z"))
    val nov = TextAnalysis.novelty(docs)
      .select(col("doc_id"), round(col("novelty") * 1e6, 0).cast("long").as("y"))
    val sums = base.join(nov, "doc_id").agg(
      count(lit(1)).as("n"),
      sum("x").as("sx"), sum("y").as("sy"), sum("z").as("sz"),
      sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
      sum(col("z") * col("z")).as("szz"), sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("z")).as("sxz"), sum(col("y") * col("z")).as("syz"))
    def r(sa: Column, sb: Column, saa: Column, sbb: Column, sab: Column): Column = {
      val n = col("n").cast("double")
      val num = n * sab.cast("double") - sa.cast("double") * sb.cast("double")
      val da = n * saa.cast("double") - sa.cast("double") * sa.cast("double")
      val db = n * sbb.cast("double") - sb.cast("double") * sb.cast("double")
      when(da <= 0 || db <= 0, lit(null).cast("double"))
        .otherwise(round(num / (sqrt(da) * sqrt(db)), 6))
    }
    sums.select(col("n").as("n_docs"), explode(array(
        struct(lit("quality~novelty").as("pair"),
          r(col("sx"), col("sy"), col("sxx"), col("syy"), col("sxy")).as("r")),
        struct(lit("quality~tokens").as("pair"),
          r(col("sx"), col("sz"), col("sxx"), col("szz"), col("sxz")).as("r")),
        struct(lit("novelty~tokens").as("pair"),
          r(col("sy"), col("sz"), col("syy"), col("szz"), col("syz")).as("r"))))
        .as("p"))
      .select(col("p.pair").as("pair"), col("n_docs"), col("p.r").as("r"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_metric_corr" -> (metricCorr _),
    "corpus_dsir_ess" -> ((s, d) => dsirEssFrom(dsirWeightsArtifact(s, d))),
    "corpus_source_profile" -> ((s, d) => sourceProfile(Tables.documents(s, d))),
    "corpus_clean"      -> ((s, d) => clean(Tables.documents(s, d))),
    "corpus_clean_clf"  -> ((s, d) => clean(Tables.documents(s, d), learnedGate = true)),
    "sample_stratified" -> ((s, d) => sampleStratified(Tables.documents(s, d))),
    "sample_fixed_n"    -> ((s, d) => sampleFixedN(Tables.documents(s, d))),
    "sample_weighted"   -> ((s, d) => sampleWeighted(Tables.documents(s, d))),
    "sample_stratified_n" -> ((s, d) => sampleStratifiedN(Tables.documents(s, d))),
    "sample_holdout_split" -> ((s, d) => holdoutSplit(Tables.documents(s, d))),
    "shard_plan"        -> ((s, d) => shardPlan(Tables.documents(s, d))),
    "corpus_shard_balance" -> ((s, d) => shardBalance(Tables.documents(s, d))),
    "corpus_kfold_plan" -> ((s, d) => kfoldPlan(Tables.documents(s, d))),
    "corpus_shuffle"    -> ((s, d) => epochShuffle(Tables.documents(s, d))),
    "corpus_shuffle_apply" -> (epochShuffleApply _),
    "corpus_token_budget" -> ((s, d) => tokenBudget(Tables.documents(s, d))),
    "corpus_dataset_card" -> ((s, d) => datasetCard(Tables.documents(s, d))),
    "corpus_length_profile" -> ((s, d) => lengthProfile(Tables.documents(s, d))),
    "corpus_decontaminate" -> ((s, d) => decontaminate(Tables.documents(s, d))),
    "corpus_bloom_decontaminate" -> ((s, d) => bloomDecontaminate(Tables.documents(s, d))),
    "corpus_near_decontaminate" -> ((s, d) => nearDecontaminateArtifact(s, d)),
    "corpus_pack_plan"  -> ((s, d) => packPlan(Tables.documents(s, d))),
    "corpus_pack_apply" -> ((s, d) => packApply(Tables.documents(s, d))),
    "corpus_chunk_plan" -> ((s, d) => chunkPlan(Tables.documents(s, d))),
    "corpus_mix_plan"   -> ((s, d) => mixPlan(Tables.documents(s, d))),
    "corpus_temperature_mix" -> ((s, d) => temperatureMix(Tables.documents(s, d))),
    "corpus_filter_ablation" -> ((s, d) => filterAblation(Tables.documents(s, d))),
    "corpus_kl_divergence" -> ((s, d) => klDivergence(Tables.documents(s, d))),
    "corpus_kl_probe" -> ((s, d) => klProbe(Tables.documents(s, d))),
    "corpus_mix_apply"  -> ((s, d) => mixApply(Tables.documents(s, d))),
    "corpus_mix_epochs" -> ((s, d) => mixEpochs(Tables.documents(s, d))),
    "corpus_dsir_weights" -> ((s, d) => dsirWeightsArtifact(s, d)),
    "corpus_dsir_probe" -> ((s, d) => dsirProbe(Tables.documents(s, d))),
    "corpus_dsir_apply" -> ((s, d) => dsirApplyFrom(dsirWeightsArtifact(s, d))),
    "corpus_curriculum" -> ((s, d) => curriculumFrom(
      TextAnalysis.unigramSurprisalFrom(
        TextAnalysis.surprisalModelArtifact(s, d, full = true).unigrams
          .select(col("term"), col("uf").as("freq")),
        Tables.documents(s, d)))),
    "corpus_curriculum_apply" -> ((s, d) => curriculumApplyFrom(
      curriculumFrom(TextAnalysis.unigramSurprisalFrom(
        TextAnalysis.surprisalModelArtifact(s, d, full = true).unigrams
          .select(col("term"), col("uf").as("freq")),
        Tables.documents(s, d))),
      Tables.documents(s, d))),
    "corpus_e2e"        -> ((s, d) => endToEnd(Tables.documents(s, d))),
  )

  /** SQL mirror of the KL faces, parameterized by the model slice and
    * the scored slice — ONE text for the registered query (both slices
    * the whole corpus) and the drift probe (resident model, incoming
    * scored), so the model and scoring formulas cannot drift between
    * faces. Mirrors [[klModelFromCounts]] (v/vt/vq/sq) and
    * [[klScoreFromCounts]] (tot/term/agg) exactly. */
  private def klOracleSql(baseWhere: String, scoreWhere: String): String =
    s"""WITH tkb AS (SELECT source, unnest(string_split(lower(text), ' ')) AS word
       |   FROM documents$baseWhere),
       | swb AS (SELECT source, word, CAST(COUNT(*) AS BIGINT) AS cnt_sw
       |   FROM tkb GROUP BY 1, 2),
       | v AS (SELECT word, CAST(SUM(cnt_sw) AS BIGINT) AS cnt_w FROM swb GROUP BY 1
       |   ORDER BY cnt_w DESC, word ASC LIMIT $KlVocabSize),
       | vt AS (SELECT CAST(SUM(cnt_w) AS BIGINT) AS tot_c,
       |     CAST(COUNT(*) AS BIGINT) AS n_v FROM v),
       | vq AS (SELECT word, ln(CAST(cnt_w + 1 AS DOUBLE) / (tot_c + n_v))
       |     AS ln_q FROM v CROSS JOIN vt),
       | sq AS (SELECT SUM(ln_q) AS s_q FROM vq),
       | tks AS (SELECT source, unnest(string_split(lower(text), ' ')) AS word
       |   FROM documents$scoreWhere),
       | sws AS (SELECT source, word, CAST(COUNT(*) AS BIGINT) AS cnt_sw
       |   FROM tks GROUP BY 1, 2),
       | iv AS (SELECT source, CAST(SUM(cnt_sw) AS BIGINT) AS tot_s,
       |     CAST(COUNT(*) AS BIGINT) AS m
       |   FROM sws JOIN vq USING (word) GROUP BY source),
       | tot AS (SELECT s.source, COALESCE(iv.tot_s, CAST(0 AS BIGINT)) AS tot_s,
       |     COALESCE(iv.m, CAST(0 AS BIGINT)) AS m, vt.n_v
       |   FROM (SELECT source FROM sws GROUP BY source) s
       |   LEFT JOIN iv USING (source) CROSS JOIN vt),
       | term AS (SELECT p.source,
       |     (CAST(p.cnt_sw + 1 AS DOUBLE) / CAST(t.tot_s + t.n_v AS DOUBLE))
       |       * (ln(CAST(p.cnt_sw + 1 AS DOUBLE)
       |           / CAST(t.tot_s + t.n_v AS DOUBLE)) - vq.ln_q) AS t_term,
       |     vq.ln_q
       |   FROM sws p JOIN vq USING (word) JOIN tot t ON t.source = p.source),
       | agg AS (SELECT source, SUM(t_term) AS t_present, SUM(ln_q) AS d
       |   FROM term GROUP BY source)
       | SELECT t.source, t.tot_s AS vocab_tokens, t.m AS n_vocab_present,
       |   COALESCE(a.t_present, CAST(0 AS DOUBLE))
       |     - CAST(t.n_v - t.m AS DOUBLE)
       |       * ln(CAST(t.tot_s + t.n_v AS DOUBLE))
       |       / CAST(t.tot_s + t.n_v AS DOUBLE)
       |     - (s_q - COALESCE(a.d, CAST(0 AS DOUBLE)))
       |       / CAST(t.tot_s + t.n_v AS DOUBLE) AS kl_nats
       | FROM tot t LEFT JOIN agg a USING (source) CROSS JOIN sq""".stripMargin

  /** SQL mirror of [[dsirWeightsBy]] with the target slice spelled as a
    * WHERE predicate — shared by the registered and probe oracles so the
    * two formulas cannot drift. */
  private def dsirSql(targetWhere: String) =
    s"""WITH tk AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS t
       |   FROM documents),
       | g AS (SELECT doc_id, lang, unnest(list_concat(t,
       |     CASE WHEN len(t) >= 2 THEN list_transform(range(len(t) - 1),
       |       i -> t[i + 1] || ' ' || t[i + 2]) ELSE []::VARCHAR[] END)) AS gram
       |   FROM tk),
       | fb AS (SELECT doc_id, lang, ${Dedup.h32SqlOf("gram")} % $DsirBuckets AS b
       |   FROM g),
       | raw AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS rc FROM fb GROUP BY b),
       | tgt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS tc FROM fb
       |   WHERE $targetWhere GROUP BY b),
       | model AS (SELECT raw.b AS b, rc, COALESCE(tc, 0) AS tc
       |   FROM raw LEFT JOIN tgt ON raw.b = tgt.b),
       | tot AS (SELECT CAST(SUM(rc) AS DOUBLE) AS rn,
       |     CAST(SUM(tc) AS DOUBLE) AS tn FROM model),
       | d AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS c FROM fb
       |   GROUP BY doc_id, b)
       | SELECT d.doc_id, CAST(SUM(c) AS BIGINT) AS n_feats,
       |   SUM(CAST(c AS DOUBLE) *
       |     ((ln(CAST(tc AS DOUBLE) + 0.5) - ln(tn + ${DsirBuckets / 2.0}))
       |    - (ln(CAST(rc AS DOUBLE) + 0.5) - ln(rn + ${DsirBuckets / 2.0}))))
       |   AS log_weight
       | FROM d JOIN model ON d.b = model.b CROSS JOIN tot
       | GROUP BY d.doc_id""".stripMargin

  private def ratesCaseSql =
    SampleRatesPerMille.map { case (l, r) => s"WHEN lang = '$l' THEN $r" }
      .mkString(" ")

  /** One oracle text for `corpus_decontaminate` AND
    * `corpus_bloom_decontaminate`: the Bloom gate is a no-false-negative
    * pre-filter in front of the same exact verify, so both queries must
    * produce this exact relation. */
  private val decontaminateOracleSql: String =
    s"""WITH ev AS (SELECT doc_id, text FROM documents
       |     WHERE doc_id % $EvalMod = $EvalRem),
       | tr AS (SELECT doc_id, text FROM documents
       |     WHERE doc_id % $EvalMod <> $EvalRem),
       | ${Dedup.shingleWith("ev", DecontShingleSize, "etoks", "esh")},
       | ${Dedup.shingleWith("tr", DecontShingleSize, "ttoks", "tsh")},
       | evset AS (SELECT DISTINCT unnest(list_distinct(list_transform(sh,
       |     s -> ${Dedup.h32SqlOf("s")} % ${Dedup.P}))) AS s FROM esh),
       | trx AS (SELECT doc_id, unnest(list_distinct(list_transform(sh,
       |     s -> ${Dedup.h32SqlOf("s")} % ${Dedup.P}))) AS s FROM tsh),
       | hits AS (SELECT t.doc_id, COUNT(*) AS n FROM trx t
       |   JOIN evset e ON t.s = e.s GROUP BY t.doc_id)
       | SELECT tr.doc_id,
       |   CAST(COALESCE(hits.n, 0) AS BIGINT) AS n_hit_shingles,
       |   COALESCE(hits.n, 0) > 0 AS contaminated
       | FROM tr LEFT JOIN hits ON tr.doc_id = hits.doc_id""".stripMargin

  /** Fixed-shape Pearson r over the exact integer sums of relation `s` —
    * the [[metricCorr]] arithmetic, one text per pair. */
  private def corrSql(sa: String, sb: String, saa: String, sbb: String,
                      sab: String): String = {
    val num = s"CAST(n AS DOUBLE) * CAST($sab AS DOUBLE)" +
      s" - CAST($sa AS DOUBLE) * CAST($sb AS DOUBLE)"
    val da = s"CAST(n AS DOUBLE) * CAST($saa AS DOUBLE)" +
      s" - CAST($sa AS DOUBLE) * CAST($sa AS DOUBLE)"
    val db = s"CAST(n AS DOUBLE) * CAST($sbb AS DOUBLE)" +
      s" - CAST($sb AS DOUBLE) * CAST($sb AS DOUBLE)"
    s"""CASE WHEN ($da) <= 0 OR ($db) <= 0 THEN CAST(NULL AS DOUBLE)
       |   ELSE round(($num) / (sqrt($da) * sqrt($db)), 6) END""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "corpus_metric_corr" ->
      s"""WITH ${TextAnalysis.qualityScoreSqlWith},
         | ${TextAnalysis.noveltySqlWith},
         | tokz AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT)
         |     AS z FROM documents),
         | b AS (SELECT q.doc_id,
         |     CAST(round(q.quality_score * 1000000, 0) AS BIGINT) AS x,
         |     CAST(round(nov.novelty * 1000000, 0) AS BIGINT) AS y, tokz.z
         |   FROM qscore q JOIN nov ON nov.doc_id = q.doc_id
         |   JOIN tokz ON tokz.doc_id = q.doc_id),
         | s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |     CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |     CAST(SUM(z) AS BIGINT) AS sz, CAST(SUM(x * x) AS BIGINT) AS sxx,
         |     CAST(SUM(y * y) AS BIGINT) AS syy, CAST(SUM(z * z) AS BIGINT) AS szz,
         |     CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * z) AS BIGINT) AS sxz,
         |     CAST(SUM(y * z) AS BIGINT) AS syz FROM b)
         | SELECT 'quality~novelty' AS pair, n AS n_docs,
         |   ${corrSql("sx", "sy", "sxx", "syy", "sxy")} AS r FROM s
         | UNION ALL SELECT 'quality~tokens', n,
         |   ${corrSql("sx", "sz", "sxx", "szz", "sxz")} FROM s
         | UNION ALL SELECT 'novelty~tokens', n,
         |   ${corrSql("sy", "sz", "syy", "szz", "syz")} FROM s""".stripMargin,

    "corpus_source_profile" ->
      s"""WITH k AS (SELECT md5(text) AS sha, MIN(doc_id) AS rep
         |   FROM documents GROUP BY md5(text)),
         | ${TextAnalysis.qualityScoreSqlWith},
         | f AS (SELECT d.source, d.lang,
         |     CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok,
         |     sc.quality_score AS q,
         |     CASE WHEN d.doc_id <> k.rep THEN 1 ELSE 0 END AS is_dup
         |   FROM documents d
         |   JOIN k ON md5(d.text) = k.sha
         |   JOIN qscore sc ON sc.doc_id = d.doc_id)
         | SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |   CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         |   AVG(q) AS avg_quality,
         |   CAST(SUM(is_dup) AS BIGINT) AS n_exact_dups,
         |   CAST(SUM(is_dup) AS DOUBLE) / COUNT(*) AS dup_rate
         | FROM f GROUP BY source, lang""".stripMargin,

    "corpus_clean" ->
      s"""WITH k AS (SELECT md5(text) AS sha, MIN(doc_id) AS keeper
         |   FROM documents GROUP BY md5(text)),
         | ${TextAnalysis.qualityScoreSqlWith},
         | ${TextAnalysis.repetitionSqlWith}
         | SELECT d.doc_id,
         |   d.doc_id = k.keeper AND NOT rr.repetitive
         |     AND sc.quality_score >= $QualityKeepThreshold AS keep,
         |   CASE WHEN d.doc_id <> k.keeper THEN 'duplicate'
         |        WHEN rr.repetitive THEN 'repetitive'
         |        WHEN sc.quality_score < $QualityKeepThreshold THEN 'low_quality'
         |        ELSE 'kept' END AS reason
         | FROM documents d
         | JOIN k ON md5(d.text) = k.sha
         | JOIN qscore sc ON sc.doc_id = d.doc_id
         | JOIN rrep rr ON rr.doc_id = d.doc_id""".stripMargin,

    "corpus_clean_clf" ->
      s"""WITH k AS (SELECT md5(text) AS sha, MIN(doc_id) AS keeper
         |   FROM documents GROUP BY md5(text)),
         | ${TextAnalysis.qualityScoreSqlWith},
         | ${TextAnalysis.repetitionSqlWith},
         | ${TextAnalysis.classifierSqlWith()}
         | SELECT d.doc_id,
         |   d.doc_id = k.keeper AND NOT rr.repetitive
         |     AND sc.quality_score >= $QualityKeepThreshold
         |     AND cl.logit >= 0 AS keep,
         |   CASE WHEN d.doc_id <> k.keeper THEN 'duplicate'
         |        WHEN rr.repetitive THEN 'repetitive'
         |        WHEN sc.quality_score < $QualityKeepThreshold THEN 'low_quality'
         |        WHEN cl.logit < 0 THEN 'clf_rejected'
         |        ELSE 'kept' END AS reason
         | FROM documents d
         | JOIN k ON md5(d.text) = k.sha
         | JOIN qscore sc ON sc.doc_id = d.doc_id
         | JOIN rrep rr ON rr.doc_id = d.doc_id
         | JOIN clf cl ON cl.doc_id = d.doc_id""".stripMargin,

    "sample_stratified" ->
      s"""SELECT doc_id, lang, source FROM documents
         | WHERE ('0x' || substring(md5('smp:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000
         |   < (CASE $ratesCaseSql ELSE $DefaultRatePerMille END)""".stripMargin,

    "sample_fixed_n" ->
      s"""SELECT doc_id, lang, source FROM documents
         | ORDER BY ('0x' || substring(md5('fix:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT ASC,
         |   doc_id ASC
         | LIMIT $FixedSampleN""".stripMargin,

    "sample_weighted" ->
      s"""WITH ${TextAnalysis.qualityScoreSqlWith},
         | p AS (SELECT d.doc_id,
         |     GREATEST(sc.quality_score, 0.000001) AS weight,
         |     (('0x' || substring(md5('wsm:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
         |       + 0.5) / 4294967296.0 AS u
         |   FROM documents d JOIN qscore sc ON sc.doc_id = d.doc_id)
         | SELECT doc_id, weight, round(ln(u) / weight, 9) AS priority
         | FROM p
         | ORDER BY priority DESC, doc_id ASC
         | LIMIT $WeightedSampleN""".stripMargin,

    "sample_stratified_n" ->
      s"""SELECT lang, doc_id, CAST(rank AS INTEGER) AS rank FROM (
         | SELECT lang, doc_id, ROW_NUMBER() OVER (PARTITION BY lang
         |   ORDER BY ('0x' || substring(md5('fixs:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT ASC,
         |     doc_id ASC) AS rank
         | FROM documents)
         | WHERE rank <= $PerStratumN""".stripMargin,

    "sample_holdout_split" ->
      s"""SELECT doc_id, lang,
         |   CASE WHEN h < $TrainPerMille THEN 'train'
         |        WHEN h < $ValPerMille THEN 'val'
         |        ELSE 'test' END AS split
         | FROM (SELECT doc_id, lang,
         |   ('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000 AS h
         | FROM documents) s""".stripMargin,

    "shard_plan" ->
      s"""SELECT ('0x' || substring(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
         |     % $NumShards AS shard,
         |   CAST(COUNT(*) AS BIGINT) AS n_docs,
         |   CAST(SUM(n_chars) AS BIGINT) AS total_chars
         | FROM documents GROUP BY 1""".stripMargin,

    "corpus_kfold_plan" ->
      s"""SELECT ('0x' || substring(md5('fold:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
         |     % $KFolds AS fold,
         |   CAST(COUNT(*) AS BIGINT) AS n_docs,
         |   CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
         | FROM documents GROUP BY 1""".stripMargin,

    "corpus_shard_balance" ->
      s"""WITH sp AS (SELECT
         |     ('0x' || substring(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
         |       % $NumShards AS shard,
         |     CAST(COUNT(*) AS BIGINT) AS n_docs,
         |     CAST(SUM(n_chars) AS BIGINT) AS total_chars
         |   FROM documents GROUP BY 1),
         | a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_shards,
         |     CAST(SUM(n_docs) AS BIGINT) AS n_docs,
         |     CAST(MIN(total_chars) AS BIGINT) AS min_chars,
         |     CAST(MAX(total_chars) AS BIGINT) AS max_chars,
         |     CAST(SUM(total_chars) AS BIGINT) AS total_chars FROM sp)
         | SELECT n_shards, n_docs, min_chars, max_chars,
         |   round(CAST(max_chars AS DOUBLE) * n_shards / total_chars, 6)
         |     AS max_skew
         | FROM a""".stripMargin,

    "corpus_shuffle" ->
      s"""SELECT doc_id, h % $NumShards AS shard,
         |   row_number() OVER (PARTITION BY h % $NumShards ORDER BY h ASC, doc_id ASC) AS pos
         | FROM (SELECT doc_id,
         |   ('0x' || substring(md5('ep$ShuffleEpoch:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
         | FROM documents) s""".stripMargin,

    // the plan mirror per executed epoch, payload joined back — the
    // written layout must carry exactly this relation (round-trip check)
    "corpus_shuffle_apply" ->
      ApplyEpochs.map { ep =>
        s"""SELECT $ep AS epoch, s.doc_id,
           |   h % $NumShards AS shard,
           |   row_number() OVER (PARTITION BY h % $NumShards ORDER BY h ASC, doc_id ASC) AS pos,
           |   d.n_chars
           | FROM (SELECT doc_id,
           |   ('0x' || substring(md5('ep$ep:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
           | FROM documents) s JOIN documents d USING (doc_id)""".stripMargin
      }.mkString("\n UNION ALL\n"),

    "corpus_token_budget" ->
      s"""WITH ${TextAnalysis.qualityScoreSqlWith},
         | s AS (SELECT d.doc_id, sc.quality_score AS quality,
         |     CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
         |   FROM documents d JOIN qscore sc ON sc.doc_id = d.doc_id),
         | sb AS (SELECT *, CAST(FLOOR(round(quality * 1000, 6)) AS INT) AS qb FROM s),
         | ba AS (SELECT qb, bucket_tok,
         |     COALESCE(SUM(bucket_tok) OVER (ORDER BY qb DESC
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS above
         |   FROM (SELECT qb, SUM(n_tokens) AS bucket_tok FROM sb GROUP BY qb) b),
         | p AS (SELECT sb.*, ba.bucket_tok, ba.above,
         |     COALESCE(SUM(n_tokens) OVER (PARTITION BY sb.qb
         |       ORDER BY quality DESC, doc_id ASC
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
         |   FROM sb JOIN ba ON ba.qb = sb.qb)
         | SELECT doc_id, quality, n_tokens,
         |   CASE WHEN above + bucket_tok <= $TokenBudget THEN TRUE
         |        WHEN above < $TokenBudget
         |          THEN above + prefix + n_tokens <= $TokenBudget
         |        ELSE FALSE END AS keep
         | FROM p""".stripMargin,

    "corpus_dataset_card" ->
      s"""WITH ${TextAnalysis.qualityScoreSqlWith},
         | a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |     CAST(COUNT(DISTINCT d.lang) AS BIGINT) AS n_langs,
         |     CAST(COUNT(DISTINCT d.source) AS BIGINT) AS n_sources,
         |     CAST(SUM(len(string_split(d.text, ' '))) AS BIGINT) AS total_tokens,
         |     CAST(SUM(length(d.text)) AS BIGINT) AS total_chars,
         |     AVG(sc.quality_score) AS mean_quality,
         |     CAST(COUNT(DISTINCT md5(d.text)) AS BIGINT) AS n_uniq,
         |     CAST(SUM(CASE WHEN
         |         len(regexp_extract_all(d.text, '${TextAnalysis.PiiEmailRe}')) > 0
         |         OR len(regexp_extract_all(d.text, '${TextAnalysis.PiiIdRe}')) > 0
         |         OR len(regexp_extract_all(d.text, '${TextAnalysis.PiiIpv4Re}')) > 0
         |         OR len(regexp_extract_all(d.text, '${TextAnalysis.PiiPhoneRe}')) > 0
         |       THEN 1 ELSE 0 END) AS BIGINT) AS n_pii
         |   FROM documents d JOIN qscore sc ON sc.doc_id = d.doc_id)
         | SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM a
         | UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE) FROM a
         | UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE) FROM a
         | UNION ALL SELECT 'total_tokens', CAST(total_tokens AS DOUBLE) FROM a
         | UNION ALL SELECT 'total_chars', CAST(total_chars AS DOUBLE) FROM a
         | UNION ALL SELECT 'mean_doc_tokens',
         |   CAST(total_tokens AS DOUBLE) / n_docs FROM a
         | UNION ALL SELECT 'mean_quality', mean_quality FROM a
         | UNION ALL SELECT 'exact_dup_rate',
         |   1.0 - CAST(n_uniq AS DOUBLE) / n_docs FROM a
         | UNION ALL SELECT 'pct_pii_docs',
         |   CAST(n_pii AS DOUBLE) / n_docs FROM a""".stripMargin,

    "corpus_length_profile" ->
      s"""WITH b AS (SELECT length(bin(GREATEST(len(string_split(text, ' ')), 1)))
         |     AS bucket,
         |     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
         |   FROM documents),
         | g AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |     CAST(SUM(n_tok) AS BIGINT) AS total_tokens
         |   FROM b GROUP BY bucket)
         | SELECT CAST(bucket AS INTEGER) AS bucket,
         |   (CAST(1 AS BIGINT) << (bucket - 1)) AS lo_tokens,
         |   n_docs, total_tokens,
         |   CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER () AS doc_share
         | FROM g""".stripMargin,

    "corpus_decontaminate" -> decontaminateOracleSql,

    // a Bloom filter has no false negatives and every gated candidate is
    // exactly verified, so the Bloom-pre-filtered result IS decontaminate's
    // result — one oracle text for both (the memo convention: the faster
    // plan must prove it computes the same relation)
    "corpus_bloom_decontaminate" -> decontaminateOracleSql,

    // the incremental-minhash oracle chain verbatim with the roles
    // flipped: corpus side = the eval split, incoming side = training
    "corpus_near_decontaminate" ->
      s"""WITH crep AS (SELECT md5(text) AS sha, MIN(doc_id) AS keeper
         |   FROM documents WHERE doc_id % $EvalMod = $EvalRem GROUP BY md5(text)),
         | basedocs AS (SELECT doc_id, text FROM documents
         |     WHERE doc_id % $EvalMod <> $EvalRem
         |   UNION ALL SELECT d.doc_id, d.text FROM documents d
         |     JOIN crep ON d.doc_id = crep.keeper),
         | ${Dedup.shingleWith("basedocs")},
         | ${Dedup.minhashBandsSqlWith},
         | cb AS (SELECT * FROM bands WHERE doc_id % $EvalMod = $EvalRem),
         | ib AS (SELECT * FROM bands WHERE doc_id % $EvalMod <> $EvalRem),
         | okb AS (SELECT band, bkey FROM cb GROUP BY band, bkey
         |   HAVING COUNT(*) <= ${Dedup.MaxBandBucket}),
         | cand AS (SELECT DISTINCT i.doc_id AS a, c.doc_id AS b
         |   FROM ib i
         |   JOIN okb o ON i.band = o.band AND i.bkey = o.bkey
         |   JOIN cb c ON c.band = i.band AND c.bkey = i.bkey),
         | ${Dedup.sigEstVerSqlWith},
         | hits AS (SELECT a, b, jaccard FROM ver
         |   WHERE jaccard >= ${Dedup.JaccardThreshold}),
         | best AS (SELECT a AS doc_id, b AS eval_match,
         |     jaccard AS match_jaccard FROM (
         |   SELECT *, ROW_NUMBER() OVER (PARTITION BY a
         |     ORDER BY jaccard DESC, b ASC) AS rn FROM hits) WHERE rn = 1)
         | SELECT d.doc_id, best.eval_match, best.match_jaccard,
         |   best.eval_match IS NOT NULL AS contaminated_near
         | FROM (SELECT doc_id FROM documents WHERE doc_id % $EvalMod <> $EvalRem) d
         | LEFT JOIN best ON d.doc_id = best.doc_id""".stripMargin,

    "corpus_pack_plan" ->
      s"""WITH d AS (SELECT doc_id,
         |     ('0x' || substring(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
         |       % $NumShards AS shard,
         |     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
         |   FROM documents),
         | c AS (SELECT doc_id, shard,
         |     COALESCE(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         |   FROM d)
         | SELECT doc_id, shard,
         |   CAST(cum_before // $SeqTokenBudget AS BIGINT) AS seq_id,
         |   CAST(cum_before % $SeqTokenBudget AS BIGINT) AS tok_offset
         | FROM c""".stripMargin,

    "corpus_pack_apply" ->
      s"""WITH d AS (SELECT doc_id,
         |     ('0x' || substring(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
         |       % $NumShards AS shard,
         |     string_split(text, ' ') AS t
         |   FROM documents),
         | base AS (SELECT doc_id, shard, t, CAST(len(t) AS BIGINT) AS n_tok FROM d),
         | pl AS (SELECT doc_id, shard, t, n_tok,
         |     CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |       AS cum_before
         |   FROM base),
         | pieces AS (SELECT shard, doc_id, t, n_tok, cum_before,
         |     unnest(range(cum_before // $SeqTokenBudget,
         |       (cum_before + n_tok - 1) // $SeqTokenBudget + 1)) AS seq_id
         |   FROM pl),
         | cut AS (SELECT shard, CAST(seq_id AS BIGINT) AS seq_id, doc_id, t,
         |     GREATEST(0, seq_id * $SeqTokenBudget - cum_before) AS p_start,
         |     LEAST(n_tok, (seq_id + 1) * $SeqTokenBudget - cum_before) AS p_end
         |   FROM pieces)
         | SELECT shard, seq_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |   CAST(SUM(p_end - p_start) AS BIGINT) AS n_tokens,
         |   string_agg(
         |     array_to_string(t[CAST(p_start + 1 AS INTEGER) : CAST(p_end AS INTEGER)], ' '),
         |     ' ' ORDER BY doc_id) AS seq_text
         | FROM cut GROUP BY shard, seq_id""".stripMargin,

    "corpus_chunk_plan" ->
      s"""WITH d AS (SELECT doc_id,
         |     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
         |   FROM documents),
         | c AS (SELECT doc_id, n_tok, unnest(range(0,
         |     CASE WHEN n_tok <= $ChunkTokens THEN 1
         |          ELSE (n_tok - $ChunkTokens + $ChunkStride - 1) // $ChunkStride + 1
         |     END)) AS chunk_idx
         |   FROM d)
         | SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         |   CAST(chunk_idx * $ChunkStride AS BIGINT) AS tok_start,
         |   CAST(LEAST($ChunkTokens, n_tok - chunk_idx * $ChunkStride) AS BIGINT)
         |     AS tok_len
         | FROM c""".stripMargin,

    "corpus_e2e" ->
      s"""WITH k AS (SELECT md5(text) AS sha, MIN(doc_id) AS keeper
         |   FROM documents GROUP BY md5(text)),
         | ${TextAnalysis.qualityScoreSqlWith},
         | ${TextAnalysis.repetitionSqlWith},
         | kept AS (SELECT d.doc_id, d.text, d.lang FROM documents d
         |   JOIN k ON md5(d.text) = k.sha
         |   JOIN qscore sc ON sc.doc_id = d.doc_id
         |   JOIN rrep rr ON rr.doc_id = d.doc_id
         |   WHERE d.doc_id = k.keeper AND NOT rr.repetitive
         |     AND sc.quality_score >= $QualityKeepThreshold),
         | samp AS (SELECT doc_id, text FROM kept
         |   WHERE ('0x' || substring(md5('smp:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
         |       % 1000 < (CASE $ratesCaseSql ELSE $DefaultRatePerMille END)),
         | d2 AS (SELECT doc_id,
         |     ('0x' || substring(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
         |       % $NumShards AS shard,
         |     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
         |   FROM samp),
         | c AS (SELECT doc_id, shard,
         |     COALESCE(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         |   FROM d2)
         | SELECT doc_id, shard,
         |   CAST(cum_before // $SeqTokenBudget AS BIGINT) AS seq_id,
         |   CAST(cum_before % $SeqTokenBudget AS BIGINT) AS tok_offset
         | FROM c""".stripMargin,

    "corpus_mix_plan" ->
      s"""WITH pl AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |     CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
         |   FROM documents GROUP BY lang),
         | sh AS (SELECT *, CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER ()
         |     AS token_share FROM pl)
         | SELECT lang, n_docs, n_tokens, token_share,
         |   ${TargetMix.map { case (l, t) => s"WHEN lang = '$l' THEN $t" }
              .mkString("CASE ", " ", " ELSE CAST(0 AS DOUBLE) END")} AS target_share,
         |   LEAST((${TargetMix.map { case (l, t) => s"WHEN lang = '$l' THEN $t" }
              .mkString("CASE ", " ", " ELSE CAST(0 AS DOUBLE) END")}) / token_share,
         |     $MaxUpsample) AS weight
         | FROM sh""".stripMargin,

    "corpus_temperature_mix" ->
      s"""WITH ps AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |     CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
         |   FROM documents GROUP BY source),
         | sh AS (SELECT *, CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER ()
         |     AS token_share FROM ps),
         | pa AS (SELECT *, pow(token_share, $MixTemperature) AS p_alpha FROM sh)
         | SELECT source, n_docs, n_tokens, token_share,
         |   p_alpha / SUM(p_alpha) OVER () AS temp_share,
         |   (p_alpha / SUM(p_alpha) OVER ()) / token_share AS weight
         | FROM pa""".stripMargin,

    "corpus_filter_ablation" ->
      s"""WITH k AS (SELECT md5(text) AS sha, MIN(doc_id) AS keeper
         |   FROM documents GROUP BY md5(text)),
         | ${TextAnalysis.qualityScoreSqlWith},
         | ${TextAnalysis.repetitionSqlWith},
         | f AS (SELECT CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok,
         |     (d.doc_id <> k.keeper) AS is_dup, rr.repetitive AS is_rep,
         |     (sc.quality_score < $QualityKeepThreshold) AS is_lowq
         |   FROM documents d
         |   JOIN k ON md5(d.text) = k.sha
         |   JOIN qscore sc ON sc.doc_id = d.doc_id
         |   JOIN rrep rr ON rr.doc_id = d.doc_id),
         | s AS (SELECT
         |   CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS dup_n,
         |   CAST(SUM(CASE WHEN is_dup THEN n_tok ELSE 0 END) AS BIGINT) AS dup_t,
         |   CAST(SUM(CASE WHEN is_rep THEN 1 ELSE 0 END) AS BIGINT) AS rep_n,
         |   CAST(SUM(CASE WHEN is_rep THEN n_tok ELSE 0 END) AS BIGINT) AS rep_t,
         |   CAST(SUM(CASE WHEN NOT is_dup AND is_rep THEN 1 ELSE 0 END) AS BIGINT) AS repm_n,
         |   CAST(SUM(CASE WHEN NOT is_dup AND is_rep THEN n_tok ELSE 0 END) AS BIGINT) AS repm_t,
         |   CAST(SUM(CASE WHEN is_lowq THEN 1 ELSE 0 END) AS BIGINT) AS lq_n,
         |   CAST(SUM(CASE WHEN is_lowq THEN n_tok ELSE 0 END) AS BIGINT) AS lq_t,
         |   CAST(SUM(CASE WHEN NOT is_dup AND NOT is_rep AND is_lowq THEN 1 ELSE 0 END) AS BIGINT) AS lqm_n,
         |   CAST(SUM(CASE WHEN NOT is_dup AND NOT is_rep AND is_lowq THEN n_tok ELSE 0 END) AS BIGINT) AS lqm_t
         |   FROM f)
         | SELECT 1 AS stage, 'duplicate' AS gate, dup_n AS n_flagged,
         |   dup_t AS tok_flagged, dup_n AS n_marginal, dup_t AS tok_marginal FROM s
         | UNION ALL SELECT 2, 'repetitive', rep_n, rep_t, repm_n, repm_t FROM s
         | UNION ALL SELECT 3, 'low_quality', lq_n, lq_t, lqm_n, lqm_t FROM s""".stripMargin,

    "corpus_kl_divergence" -> klOracleSql("", ""),

    "corpus_kl_probe" -> klOracleSql(
      s" WHERE doc_id % ${Dedup.IncomingMod} <> 0",
      s" WHERE doc_id % ${Dedup.IncomingMod} = 0"),

    "corpus_mix_apply" ->
      s"""WITH pl AS (SELECT lang, CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
         |     AS n_tokens FROM documents GROUP BY lang),
         | sh AS (SELECT lang, CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER ()
         |     AS token_share FROM pl),
         | w AS (SELECT lang, LEAST(LEAST(
         |   (${TargetMix.map { case (l, t) => s"WHEN lang = '$l' THEN $t" }
              .mkString("CASE ", " ", " ELSE CAST(0 AS DOUBLE) END")}) / token_share,
         |   $MaxUpsample), 1.0) AS rate FROM sh)
         | SELECT d.doc_id, d.lang, w.rate
         | FROM documents d JOIN w USING (lang)
         | WHERE ('0x' || substring(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
         |   % 1000 < w.rate * 1000.0""".stripMargin,

    "corpus_mix_epochs" ->
      s"""WITH pl AS (SELECT lang, CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
         |     AS n_tokens FROM documents GROUP BY lang),
         | sh AS (SELECT lang, CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER ()
         |     AS token_share FROM pl),
         | w AS (SELECT lang, LEAST(
         |   (${TargetMix.map { case (l, t) => s"WHEN lang = '$l' THEN $t" }
              .mkString("CASE ", " ", " ELSE CAST(0 AS DOUBLE) END")}) / token_share,
         |   $MaxUpsample) AS weight FROM sh)
         | SELECT d.doc_id, d.lang, w.weight,
         |   CAST(FLOOR(w.weight) + CASE WHEN
         |       ('0x' || substring(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
         |         % 1000 < (w.weight - FLOOR(w.weight)) * 1000.0
         |     THEN 1 ELSE 0 END AS BIGINT) AS n_repeats
         | FROM documents d JOIN w USING (lang)""".stripMargin,

    "corpus_dsir_weights" -> dsirSql(s"lang = '$DsirTargetLang'"),
    "corpus_dsir_probe" -> dsirSql(s"doc_id % $DsirProbeMod = 0"),

    "corpus_dsir_ess" ->
      s"""SELECT n_docs,
         |   sw * sw / sw2 AS ess,
         |   sw * sw / sw2 / n_docs AS ess_frac,
         |   sw / n_docs AS mean_w,
         |   max_w
         | FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |     SUM(exp(log_weight)) AS sw,
         |     SUM(exp(log_weight) * exp(log_weight)) AS sw2,
         |     MAX(exp(log_weight)) AS max_w
         |   FROM (${dsirSql(s"lang = '$DsirTargetLang'")}) base) agg""".stripMargin,

    // the surprisal pipeline verbatim (nested CTE), then the
    // text_quality_deciles threshold discipline at quartile grain
    "corpus_curriculum" ->
      s"""WITH sc AS (${TextAnalysis.unigramSurprisalSql}),
         | q AS (SELECT doc_id, round(cross_entropy, 6) AS ce FROM sc),
         | th AS (SELECT quantile_cont(ce,
         |   [${(1 until CurriculumPhases).map(_.toDouble / CurriculumPhases).mkString(", ")}])
         |   AS ths FROM q)
         | SELECT q.doc_id, q.ce,
         |   CAST(len(list_filter(th.ths, t -> q.ce >= t)) + 1 AS INTEGER) AS phase
         | FROM q, th""".stripMargin,

    // the curriculum mirror, then the phase-ordered emission: per-phase
    // rank + running token sum, global position via the ≤4-row phase
    // offset ledger, sequence chunking at the SeqTokenBudget boundary
    "corpus_curriculum_apply" ->
      s"""WITH sc AS (${TextAnalysis.unigramSurprisalSql}),
         | q AS (SELECT doc_id, round(cross_entropy, 6) AS ce FROM sc),
         | th AS (SELECT quantile_cont(ce,
         |   [${(1 until CurriculumPhases).map(_.toDouble / CurriculumPhases).mkString(", ")}])
         |   AS ths FROM q),
         | ph AS (SELECT q.doc_id, q.ce,
         |   CAST(len(list_filter(th.ths, t -> q.ce >= t)) + 1 AS INTEGER) AS phase
         | FROM q, th),
         | tok AS (SELECT doc_id,
         |   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
         | o AS (SELECT ph.doc_id, ph.phase, ph.ce, tok.n_tok,
         |     row_number() OVER (PARTITION BY phase ORDER BY ce ASC, doc_id ASC) AS pos,
         |     COALESCE(SUM(n_tok) OVER (PARTITION BY phase ORDER BY ce ASC, doc_id ASC
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         |   FROM ph JOIN tok USING (doc_id)),
         | off AS (SELECT phase,
         |     COALESCE(SUM(n) OVER (ORDER BY phase
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS phase_offset
         |   FROM (SELECT phase, CAST(COUNT(*) AS BIGINT) AS n FROM o GROUP BY phase) c)
         | SELECT o.doc_id, o.phase, o.pos,
         |   CAST(o.pos + off.phase_offset AS BIGINT) AS global_pos,
         |   CAST(o.cum_before // $SeqTokenBudget AS BIGINT) AS seq_id
         | FROM o JOIN off USING (phase)""".stripMargin,

    // the weight pipeline verbatim (nested CTE), then the resampling
    // predicate in the same salted-hash convention as corpus_mix_apply
    "corpus_dsir_apply" ->
      s"""WITH wts AS (${dsirSql(s"lang = '$DsirTargetLang'")})
         | SELECT doc_id, log_weight,
         |   LEAST(1.0, exp(log_weight)) AS rate
         | FROM wts
         | WHERE ('0x' || substring(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
         |   % 1000 < LEAST(1.0, exp(log_weight)) * 1000.0""".stripMargin,
  )
}
