package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Staging
import graft.sources.Tables

/** Text-analysis operators over the `documents` table — the LLM-pipeline
  * family (language ID, quality scoring, token counting, fingerprinting).
  * No counterpart in the reference; every operator is a pure column
  * expression pipeline (single scan, no shuffle except the final write),
  * and every computation is mirrored exactly in DuckDB SQL so all four are
  * hash-match oracle-checked.
  *
  * 100 TB shape: all four are embarrassingly parallel map-only scans —
  * partition-local, no shuffle, no state; they pipeline into whatever
  * downstream filter/groupBy consumes the signals.
  */
object TextAnalysis {

  /** Portable "BPE-ish" sub-token pattern: alnum runs or single
    * non-alnum-non-space marks (identical semantics in Java regex and
    * DuckDB's RE2). */
  val SubtokenPattern = "[A-Za-z0-9]+|[^A-Za-z0-9\\s]"

  /** Small function-word profiles per language. Membership counting over
    * lowercase whitespace tokens (duplicates count). Deterministic
    * preference order on ties: en, de, es, fr, zh. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "to", "and", "is", "in", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "es" -> Seq("el", "la", "que", "y", "en", "un", "es", "los"),
    "fr" -> Seq("le", "la", "et", "un", "est", "dans", "que", "les"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有"))

  val EnStopwords: Seq[String] =
    Seq("the", "a", "an", "of", "to", "and", "is", "in", "it", "that", "for", "on")

  private[graft] def toks(c: Column): Column = split(lower(c), " ")

  private def profileScore(toksCol: Column, words: Seq[String]): Column =
    size(filter(toksCol, t => t.isin(words: _*)))

  /** Token counting: chars, whitespace tokens, sub-tokens, mean token
    * length. */
  def tokenStats(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"),
      size(regexp_extract_all(col("text"), lit(SubtokenPattern), lit(0)))
        .cast("long").as("n_subtokens"),
      (length(regexp_replace(col("text"), " ", "")).cast("double") /
        size(split(col("text"), " "))).as("avg_token_chars"))

  /** Language ID by function-word profile argmax (tie order en<de<es<fr<zh,
    * all-zero → 'und'). On the synthetic fixture the text is language-less
    * word salad, so agreement with the `lang` column is not meaningful —
    * the correctness gate is the exact DuckDB mirror of this computation. */
  /** The (prediction, best-score) column pair of [[langId]] over an
    * ALREADY-TOKENIZED column — extracted so [[langConfusion]] can
    * evaluate the detector without a join, and parameterized on the
    * token attribute so every caller stages `split(lower(text))` ONCE
    * in its own projection. The five profile scores + `greatest` + the
    * five-branch argmax chain reference the tokens ~11 times; staged as
    * an attribute, Catalyst's CollapseProject keeps the producer
    * projection separate (non-cheap expression, multiple references),
    * so the split runs once per row instead of leaning on codegen
    * subexpression elimination (VERDICT r11 perf flag). */
  private def langPredColsOver(t: Column): (Column, Column) = {
    val scores = LangProfiles.map { case (l, ws) => l -> profileScore(t, ws) }
    val m = greatest(scores.map(_._2): _*)
    val pred = scores.foldLeft(when(m === 0, lit("und"))) {
      case (acc, (l, s)) => acc.when(s === m, lit(l))
    }
    (pred, m.cast("long"))
  }

  def langId(documents: DataFrame): DataFrame = {
    val staged = documents.select(col("doc_id"), toks(col("text")).as("__toks"))
    val (pred, best) = langPredColsOver(col("__toks"))
    staged.select(
      col("doc_id"),
      pred.as("lang_pred"),
      best.as("best_score"))
  }

  /** Language-ID confusion matrix — the detector EVALUATED against the
    * corpus's label column (the eval every classifier in the pipeline
    * owes its consumers): one row per observed (lang, lang_pred) cell
    * with its count and row-normalized share, so per-language recall
    * sits on the diagonal and every off-diagonal cell names a concrete
    * confusion. Output: (lang, lang_pred, n_docs, share_of_lang).
    *
    * 100 TB shape: prediction is the same map-only expression as
    * [[langId]] computed NEXT TO the label (no self-join), one
    * two-phase aggregation to ≤|langs|² cells, and the row
    * normalization is a window over that tiny result. */
  def langConfusion(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val staged = documents.select(col("lang"), toks(col("text")).as("__toks"))
    val (pred, _) = langPredColsOver(col("__toks"))
    staged.select(col("lang"), pred.as("lang_pred"))
      .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n_docs"))
      .withColumn("share_of_lang", col("n_docs").cast("double") /
        sum("n_docs").over(Window.partitionBy("lang")))
  }

  /** Marker repetitions for [[langProbe]] — enough planted profile hits
    * to outvote the corpus's incidental English function words. */
  val LangProbeRepeat = 5

  /** Language-ID parity + recovery probe (the `text_pii_probe` pattern
    * applied to the detector): the synthetic corpus only ever exercises
    * the `en` scoring branch, so the green `text_lang_id` row proves
    * nothing about the de/es/fr/zh paths or the tie/argmax logic under
    * real competition. Here each document is prefixed ON BOTH ENGINES
    * with [[LangProbeRepeat]] copies of its own metadata-language profile
    * words (unicode included for zh), then re-identified: every branch
    * scores, the argmax competes against the soup's English hits, and
    * `recovered` reports whether the planted language won. */
  def langProbe(documents: DataFrame): DataFrame = {
    val marker = LangProfiles.foldLeft(lit("")) { case (acc, (l, ws)) =>
      when(col("lang") === l,
        lit(Seq.fill(LangProbeRepeat)(ws).flatten.mkString(" "))).otherwise(acc)
    }
    val staged = documents.select(col("doc_id"), col("lang"),
      toks(concat_ws(" ", marker, col("text"))).as("__toks"))
    val (pred, _) = langPredColsOver(col("__toks"))
    staged.select(col("doc_id"), col("lang"), pred.as("lang_pred"))
      .select(col("doc_id"), col("lang"), col("lang_pred"),
        (col("lang_pred") === col("lang")).as("recovered"))
  }

  /** Repetition-gate recovery probe: no synthetic document trips the
    * Gopher gate (0/500 at the oracle), so the `repetitive = true` branch
    * never fires there. Each document's body is replaced ON BOTH ENGINES
    * by its own first bigram repeated 30× — 60 tokens of pure
    * boilerplate: every row must flag repetitive with top-bigram
    * fraction ~1. */
  def repetitionProbe(documents: DataFrame): DataFrame = {
    val t = split(col("text"), " ")
    val bigram = concat_ws(" ", get(t, lit(0)), get(t, lit(1)))
    repetition(documents.select(col("doc_id"),
      concat(repeat(concat(bigram, lit(" ")), 29), bigram).as("text")))
  }

  /** The quality signal columns over `text` — exposed individually so
    * streaming pipelines can compose them join-free
    * ([[graft.streaming.StreamingCorpusGate]]). */
  def punctRatioCol: Column = {
    val nChars = length(col("text"))
    val nPunct = length(regexp_replace(col("text"), "[A-Za-z0-9 ]", ""))
    when(nChars === 0, lit(0.0)).otherwise(nPunct.cast("double") / nChars)
  }

  def stopwordRatioCol: Column = {
    val nTok = size(split(col("text"), " "))
    when(nTok === 0, lit(0.0))
      .otherwise(profileScore(toks(col("text")), EnStopwords).cast("double") / nTok)
  }

  /** The fixed-weight composite score as ONE expression over `text`. */
  def qualityScoreCol: Column = {
    val lenScore = least(length(col("text")).cast("double") / 500.0, lit(1.0))
    stopwordRatioCol * 0.3 + (lit(1.0) - punctRatioCol) * 0.3 + lenScore * 0.4
  }

  /** Quality signals and a fixed-weight composite score. */
  def quality(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      punctRatioCol.as("punct_ratio"),
      stopwordRatioCol.as("stopword_ratio"),
      qualityScoreCol.as("quality_score"))

  /** Compression-ratio quality signal — the byte-level redundancy gate
    * the C4/Gopher lineage applies beside token-level repetition: per
    * document, `deflate_len / raw_len` via the native
    * [[graft.functions.DeflateLength]] expression, flagged at both
    * tails (far below the healthy band → boilerplate/repetition DEFLATE
    * sees but token n-grams can miss; ≥1 → binary or already-compressed
    * junk). Output: (doc_id, n_bytes, deflate_bytes, compression_ratio,
    * too_repetitive, incompressible).
    *
    * NOT oracle-registered (DuckDB has no compression scalar) — the
    * `valueQuantilesApprox` convention: spec-pinned behaviorally instead
    * (`TextAnalysisSpec`: ordering vs crafted redundancy, both flag
    * directions, engine determinism).
    *
    * 100 TB shape: a map-only projection — one codegen'd scan, no
    * exchange; the per-row zlib call dominates and parallelizes
    * embarrassingly. */
  def compressionRatio(documents: DataFrame): DataFrame = {
    val nBytes = octet_length(col("text")).cast("long")
    Tables.spread(documents).select(
        col("doc_id"), nBytes.as("n_bytes"),
        graft.functions.DeflateLength.of(col("text")).as("deflate_bytes"))
      .withColumn("compression_ratio",
        when(col("n_bytes") === 0L, lit(1.0))
          .otherwise(col("deflate_bytes").cast("double") / col("n_bytes")))
      .withColumn("too_repetitive", col("compression_ratio") < CompressionRatioMin)
      .withColumn("incompressible", col("compression_ratio") >= 1.0)
  }

  /** Lower flag bound for [[compressionRatio]] — prose deflates to
    * roughly 0.3-0.6 of its bytes; materially below that means machine
    * redundancy, not language. */
  val CompressionRatioMin = 0.2

  /** Output dimensionality of [[hashEmbedding]] — matches the
    * `embeddings` table's 64 dims so hashed text vectors can ride the
    * similarity family's machinery unchanged. */
  val HashEmbDim = 64

  /** Hashing-trick document embeddings (Weinberger et al. 2009 feature
    * hashing) — the vocabulary-free featurizer that bridges the text and
    * vector families: every token hashes to one of [[HashEmbDim]]
    * buckets with a ±1 sign from an independent hash (sign cancellation
    * keeps bucket collisions unbiased), per-document signed counts
    * accumulate, and the vector L2-normalizes. No vocabulary, no
    * training, no drift between batch and streaming — a new token folds
    * in with pure arithmetic, which is why production pipelines reach
    * for this before a learned embedding. Emitted SPARSE, one row per
    * non-zero (doc, dim): (doc_id, dim, weight_raw, weight) — exact
    * integer counts beside the normalized coordinate, zero-norm docs
    * guarded to 0.
    *
    * 100 TB shape: explode → ONE two-phase (doc, dim) aggregation, then
    * the normalization as an unordered window over the ≤[[HashEmbDim]]
    * surviving rows per doc — two exchanges total (the second carries
    * post-aggregation rows only), no join anywhere. */
  def hashEmbedding(documents: DataFrame): DataFrame = {
    // r18: the whole signed histogram is the native per-row HashEmbed
    // (identical exact integers, touched-dim rows included) and the
    // per-doc norm folds the ≤[[HashEmbDim]]-entry ATTRIBUTE array — the
    // former explode + groupBy(doc_id, dim) exchange AND the per-doc
    // window exchange are both gone: the embedding is map-only at any
    // corpus size
    val e = col("_e")
    Tables.spread(documents)
      .select(col("doc_id"),
        graft.functions.HashEmbed.of(col("text"), HashEmbDim).as("_e"))
      .select(col("doc_id"), col("_e"), aggregate(e, lit(0L),
        (a, x) => a + x.getField("raw") * x.getField("raw")).as("ss"))
      .select(col("doc_id"), explode(col("_e")).as("p"), col("ss"))
      .select(col("doc_id"), col("p.dim").as("dim"),
        col("p.raw").as("weight_raw"),
        when(col("ss") === 0, lit(0.0))
          .otherwise(col("p.raw").cast("double") /
            sqrt(col("ss").cast("double"))).as("weight"))
  }

  /** Results returned by [[denseSearch]]. */
  val DenseTopK = 10

  /** Dense retrieval over the hashing-trick vectors — the third leg of
    * the engine's retrieval suite (BM25 = lexical-sparse, n-gram
    * Jaccard = set overlap, this = distributional-dense), sharing
    * [[hashEmbedding]]'s bucket/sign hashes so query and corpus live in
    * the same 64-dim space with NO trained model. The query's signed
    * counts are computed driver-side from the constant term list (the
    * "model" is five integers) and interpolated as literals into both
    * engines; the score is `int_dot / (√ssd · √ssq)` — an EXACT integer
    * dot product and integer sums of squares under one division, so
    * cross-engine float-order noise cannot exist by construction.
    * Output: top-[[DenseTopK]] (doc_id, dense_score, rank).
    *
    * 100 TB shape: one (doc, dim) two-phase aggregation, ssd as a
    * window over the ≤64 surviving rows per doc, the ≤|terms|-row query
    * vector broadcast, and the head extraction is
    * TakeOrderedAndProject — never a global sort. */
  def denseSearch(documents: DataFrame,
                  terms: Seq[String] = Bm25Query): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (qraw, ssq) = denseQueryRaw(terms)
    // r18: the query's signed bucket weights are CONSTANTS — attach them
    // as a literal map lookup so the per-doc norm (over all dims) and
    // the query dot (over query dims) come out of ONE aggregation; the
    // former shape paid a per-doc window (second exchange + sort) plus a
    // dim join plus a second per-doc aggregation for the same numbers.
    val qmap = typedLit(qraw.toMap)
    // r18 batch 2: the signed histogram is the native per-row HashEmbed
    // and the three per-doc sums fold its ≤[[HashEmbDim]]-entry
    // ATTRIBUTE array (exact integers, any order) — the (doc, dim)
    // aggregation exchange AND the per-doc aggregation exchange are
    // gone: scoring is MAP-ONLY into the bounded top-k head
    val e = col("_e")
    Tables.spread(documents)
      .select(col("doc_id"),
        graft.functions.HashEmbed.of(col("text"), HashEmbDim).as("_e"))
      .select(col("doc_id"),
        aggregate(e, lit(0L),
          (a, x) => a + x.getField("raw") * x.getField("raw")).as("ssd"),
        aggregate(e, lit(0L), (a, x) => a + x.getField("raw") *
          coalesce(element_at(qmap, x.getField("dim")), lit(0L))).as("intdot"),
        // the former inner dim-join kept only documents carrying ≥1
        // query-dim bucket row — replicated exactly
        aggregate(e, lit(0L), (a, x) => a +
          when(element_at(qmap, x.getField("dim")).isNotNull, 1L)
            .otherwise(0L)).as("nq"))
      .where(col("nq") > 0 && col("ssd") > 0)
      .select(col("doc_id"), (col("intdot").cast("double") /
        (sqrt(col("ssd").cast("double")) * math.sqrt(ssq.toDouble)))
        .as("dense_score"))
      .orderBy(col("dense_score").desc, col("doc_id").asc).limit(DenseTopK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("dense_score").desc, col("doc_id").asc))
        .cast("int"))
  }

  /** The query's signed bucket counts and sum of squares — pure
    * arithmetic over constants, shared by the Spark plan and the SQL
    * mirror as interpolated literals. */
  private[operators] def denseQueryRaw(terms: Seq[String]): (Seq[(Long, Long)], Long) = {
    import org.apache.spark.unsafe.types.UTF8String
    val acc = scala.collection.mutable.LinkedHashMap[Long, Long]()
    terms.foreach { t =>
      val dim = graft.functions.MinHashSeeds.h32(
        UTF8String.fromString(s"hemb:$t")) % HashEmbDim
      val sgn = if (graft.functions.MinHashSeeds.h32(
        UTF8String.fromString(s"hsgn:$t")) % 2 == 0) 1L else -1L
      acc(dim) = acc.getOrElse(dim, 0L) + sgn
    }
    val qraw = acc.toSeq.filter(_._2 != 0L)
    (qraw, qraw.map { case (_, w) => w * w }.sum)
  }

  /** Sentence boundaries for [[readability]]: a run of terminators counts
    * once (an ellipsis or "?!" ends ONE sentence). */
  private val SentenceRe = "[.!?]+"

  /** Syllable proxy for [[readability]]: a maximal vowel run ≈ one
    * syllable (the standard cheap approximation; exact syllabification
    * needs a dictionary no 100 TB scan should carry). */
  private val VowelRunRe = "[aeiouy]+"

  /** Readability scoring — Flesch reading ease + Flesch–Kincaid grade
    * from three regex counts (words, sentence-terminator runs, vowel
    * runs), the curation gate that separates prose from listings/code
    * dumps by sentence rhythm rather than vocabulary. Sentences floor at
    * 1 (headline-style fragments are one sentence, not a division by
    * zero); syllables floor at the word count (every word carries at
    * least one). Output: (doc_id, n_words, n_sentences, n_syllables,
    * flesch_ease, fk_grade) — the formulas' IEEE arithmetic is ordered
    * identically to the oracle, so doubles match bit-exactly.
    *
    * 100 TB shape: a map-only codegen'd projection — three regex scans
    * per row, no exchange, no state. */
  def readability(documents: DataFrame): DataFrame = {
    val nWords = size(split(col("text"), " ")).cast("double")
    val nSents = greatest(
      size(regexp_extract_all(col("text"), lit(SentenceRe), lit(0))), lit(1))
      .cast("double")
    val nSyll = greatest(
      size(regexp_extract_all(lower(col("text")), lit(VowelRunRe), lit(0)))
        .cast("double"), nWords)
    val wps = nWords / nSents
    val spw = nSyll / nWords
    Tables.spread(documents).select(
      col("doc_id"),
      nWords.cast("long").as("n_words"),
      nSents.cast("long").as("n_sentences"),
      nSyll.cast("long").as("n_syllables"),
      (lit(206.835) - lit(1.015) * wps - lit(84.6) * spw).as("flesch_ease"),
      (lit(0.39) * wps + lit(11.8) * spw - lit(15.59)).as("fk_grade"))
  }

  /** Decile quantile points for [[qualityDeciles]]. */
  val DecileQs: Seq[Double] = (1 to 9).map(_ / 10.0)

  /** Quality-decile bucketing — the curation step between scoring and
    * mixing (train on the top buckets, hold the rest back, or weight by
    * bucket): every document labeled 0..9 by where its composite quality
    * score falls against the corpus's own exact decile thresholds.
    *
    * Engine-portable by construction: scores are rounded to 1e-6 BEFORE
    * the quantile so every interpolated threshold sits ≥ ~1e-7 from any
    * distinct rounded score — a `score >= threshold` comparison can never
    * flip on cross-engine interpolation ulps (and an exact-hit threshold,
    * interpolation fraction 0, is the score value bit-exactly on both).
    *
    * 100 TB shape: one map-side-combined quantile aggregate to a 1-row
    * threshold frame, broadcast back over the scan; the swap-in at scale
    * is `approx_percentile` for the threshold row, same shape. */
  def qualityDeciles(documents: DataFrame): DataFrame = {
    val scored = quality(documents)
      .select(col("doc_id"), col("quality_score").as("qs"))
    val ths = scored.agg(percentile(col("qs"),
      typedLit(DecileQs)).as("ths"))
    // decile membership compares on the 1e-6 FLOOR grid: interpolated
    // thresholds can differ by an ulp between engines (Spark `percentile`
    // vs DuckDB `quantile_cont` order their arithmetic differently), and
    // under heavy score ties that ulp decides a whole tie class's bucket.
    // floor() of a bit-identical binary product is the one quantizer both
    // engines agree on everywhere (round(x, k>0) is boundary-divergent —
    // see the qualityDeciles fuzz note in SURVEY §2.4), so both the score
    // and the threshold are floored to the grid before the comparison;
    // the reported qs stays raw.
    scored.join(broadcast(ths))
      .select(col("doc_id"), col("qs"),
        size(filter(col("ths"),
          t => floor(col("qs") * 1e6) >= floor(t * 1e6))).as("decile"))
  }

  // ---- learned quality gate (fixed-weight linear classifier) --------------

  /** Hashed-feature dimension for [[qualityClassifier]]. */
  val ClfDim = 32
  /** The classifier's weight vector — DETERMINISTIC literals, generated
    * by a fixed formula so the Scala and SQL faces share one source. In
    * production these arrive from an offline trainer (fastText-style
    * logistic regression over hashed token features); the weights being
    * data-independent is exactly what makes the SERVING plan — the part
    * this engine owns — oracle-checkable. Values in [-1, 1] in tenths. */
  val ClfWeightTenths: Seq[Int] =
    (0 until ClfDim).map(j => (j * 37 + 11) % 21 - 10)
  val ClfWeights: Seq[Double] = ClfWeightTenths.map(_ / 10.0)
  /** Chosen so the gate genuinely splits the synthetic corpus (~52/48 at
    * sf0.01) — a bias that kept or dropped everything would leave the
    * decision branch dead at the oracle (the probe-query lesson). */
  val ClfBias = 0.15

  /** Fixed-weight linear quality classifier — the industry-standard
    * learned curation gate (a trained linear model over hashed bag-of-
    * words features; CCNet/fastText-shaped), beside the heuristic
    * [[quality]] composite: each token hashes to one of [[ClfDim]]
    * buckets through the portable [[Dedup.h32]] family, the document's
    * logit is `bias + mean(weight[bucket(token)])` (the exact linear
    * model over L1-normalized hashed counts), `clf_score` its sigmoid,
    * `keep` the ≥ 0.5 decision.
    *
    * Numerics (hardened after the r11 sf0.1 parity sweep caught a
    * `round(·,6)` knife edge): the weights are EXACT tenths, so
    * logit = bias + Σwᵢ/(10n) is the rational (3n+2Σwᵢ)/(20n) — and one
    * sf0.1 document lands EXACTLY on a .5·10⁻⁶ boundary, where Spark's
    * BigDecimal HALF_UP and DuckDB's float-multiply `round` disagree
    * even on identical inputs. So the published 1e-6 logit grain is
    * computed IN INTEGERS on both engines: micro = half-away-from-zero
    * round of 50000·(3n+2Σwᵢ)/n via explicit positive-operand integer
    * division, logit = micro/10⁶ — no float enters until the final
    * constant division, which is one identical IEEE op per engine.
    *
    * 100 TB shape: map-only hash + weight lookup against a literal array
    * (no model table, no join, and — r18 — no exchange: the per-doc token
    * count and weight sum are one native [[graft.functions.ClfStats]]
    * pass per row instead of explode + groupBy(doc_id), identical exact
    * integers) — the cheapest possible serving plan for a linear gate. */
  def qualityClassifier(documents: DataFrame): DataFrame = {
    Tables.spread(documents)
      .select(col("doc_id"),
        graft.functions.ClfStats.of(lower(col("text")), ClfWeightTenths).as("cs"))
      .select(col("doc_id"), col("cs.n_tokens").as("n_tokens"),
        (lit(50000L) * (lit(3L) * col("cs.n_tokens")
          + lit(2L) * col("cs.sum_twi"))).as("a"))
      .withColumn("micro", when(col("a") >= 0,
          expr("(2*a + n_tokens) DIV (2*n_tokens)"))
        .otherwise(-expr("(-2*a + n_tokens) DIV (2*n_tokens)")))
      .select(col("doc_id"), col("n_tokens"),
        (col("micro").cast("double") / lit(1000000.0)).as("logit"))
      .select(col("doc_id"), col("n_tokens"), col("logit"),
        (lit(1.0) / (lit(1.0) + exp(-col("logit")))).as("clf_score"),
        (col("logit") >= 0).as("keep"))
  }

  /** Content fingerprints over the portable hash family
    * ([[Dedup.h32]]): whole-content hash of the whitespace-normalized
    * lowercase text, plus the minimum shingle hash (MinHash with k=1 — a
    * reordering-robust set fingerprint). */
  def fingerprint(documents: DataFrame): DataFrame = {
    val norm = regexp_replace(lower(col("text")), "\\s+", " ")
    // spread: the per-shingle md5 chain below is the one text-analysis op
    // heavy enough that a single-row-group scan bottlenecks it (Tables.spread
    // is a no-op on an already-wide scan)
    // lowered text + token array projected first ([[collocations]]'
    // lambda note): the shingle transform's body must reference
    // attributes, not a per-element re-split
    // r18: the min shingle hash rides the native positional gram hashes
    // (distinctness is irrelevant under min; same h32 values), with the
    // under-k whole-text fallback preserved
    graft.sources.Tables.spread(documents)
      .select(col("doc_id"), Dedup.h32(norm).as("content_fp"),
        lower(col("text")).as("_lt"))
      .select(col("doc_id"), col("content_fp"), col("_lt"),
        graft.functions.SpanGramHashes.of(col("_lt"), Dedup.ShingleSize)
          .as("_sgh"))
      .select(
      col("doc_id"),
      col("content_fp"),
      when(size(col("_sgh")) > 0, array_min(col("_sgh")))
        .otherwise(Dedup.h32(col("_lt"))).as("min_shingle_fp"))
  }

  // ---- PII detection / redaction -------------------------------------------

  /** PII patterns, portable between Java regex (Spark) and RE2 (DuckDB):
    * no backreferences, no lookaround, ASCII classes only, and only
    * constructs where leftmost-greedy matching coincides on both engines.
    * The pattern set is the standard pre-training scrub list (emails,
    * phone-shaped digit runs, IPv4s, SSN-shaped ids). */
  val PiiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiIpv4Re  = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PiiIdRe    = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
  val PiiPhoneRe = "\\+\\d[\\d -]{6,13}\\d"

  /** (pattern, replacement token) in redaction order. Id before ipv4/phone
    * is deliberate: the dashed 3-2-4 shape must win over the looser
    * digit-run patterns; the literal tokens contain no digits, so earlier
    * replacements never feed later patterns. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    PiiEmailRe -> "<EMAIL>", PiiIdRe -> "<ID>",
    PiiIpv4Re -> "<IP>", PiiPhoneRe -> "<PHONE>")

  /** Per-document PII census — the audit face (what leaks, where, how
    * much) that decides whether a source needs [[piiRedact]] at all.
    *
    * 100 TB shape: map-only regex scan, no shuffle; at cluster scale the
    * counts aggregate per source/shard with an ordinary two-phase agg. */
  def piiScan(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit(PiiEmailRe), lit(0))).as("n_emails"),
      size(regexp_extract_all(col("text"), lit(PiiIdRe), lit(0))).as("n_ids"),
      size(regexp_extract_all(col("text"), lit(PiiIpv4Re), lit(0))).as("n_ipv4"),
      size(regexp_extract_all(col("text"), lit(PiiPhoneRe), lit(0))).as("n_phones"))
      .withColumn("n_pii",
        col("n_emails") + col("n_ids") + col("n_ipv4") + col("n_phones"))

  /** Redacted text: every [[PiiPatterns]] match replaced by its literal
    * class token, applied in the documented order. Emits the full
    * redacted body — this IS the cleaned corpus, not a report. */
  def piiRedact(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      PiiPatterns.foldLeft(col("text")) {
        case (acc, (re, tok)) => regexp_replace(acc, re, tok)
      }.as("text"))

  /** PII parity probe — the oracle face that proves the regex semantics
    * MATCH across engines on text that actually contains PII (the
    * synthetic corpus is PII-free, so `text_pii_scan`'s green row alone
    * only proves both engines count zero): one email / id / IPv4 / phone
    * span is derived deterministically from doc_id and prepended to every
    * document ON BOTH ENGINES, then scanned and redacted. Every row must
    * count (1,1,1,1) + redact to the same length — a divergence in
    * greedy-match extent or replacement behavior fails the hash. */
  def piiProbe(documents: DataFrame): DataFrame = {
    val aug = documents.select(col("doc_id"),
      concat_ws(" ",
        concat(lit("user"), col("doc_id").cast("string"), lit("@example.com")),
        lit("123-45-6789"),
        lit("10.0.0.1"),
        concat(lit("+1 415-555-0"),
          lpad(pmod(col("doc_id"), lit(100)).cast("string"), 3, "0")),
        col("text")).as("text"))
    piiScan(aug)
      .join(piiRedact(aug).select(col("doc_id"),
        length(col("text")).as("redacted_chars")), Seq("doc_id"))
  }

  /** Corpus n-gram table size. */
  val TopNgrams = 100

  /** Corpus-level n-gram document frequency: top [[TopNgrams]] lowercase
    * word 3-shingles by the number of documents containing them
    * (per-document distinct, as in [[Dedup.wordShingles]]).
    *
    * 100 TB shape: explode → count with map-side partial aggregation
    * (shuffle carries one row per distinct gram per partition), top-N as
    * TakeOrderedAndProject (per-partition heap, no global sort). */
  def ngramFreq(documents: DataFrame): DataFrame =
    // r18: per-doc DISTINCT shingles come from the native GramCounts keys
    // (identical string set — first-occurrence distinct over the same
    // single-space grams); the under-k whole-text fallback is preserved.
    // _gc is an ATTRIBUTE, so the gram-field transform runs once per
    // element (the collocations lambda note).
    graft.sources.Tables.spread(documents)
      .select(lower(col("text")).as("_lt"))
      .select(col("_lt"),
        graft.functions.GramCounts.of(col("_lt"), Dedup.ShingleSize).as("_gc"))
      .select(explode(when(size(col("_gc")) > 0,
          transform(col("_gc"), x => x.getField("gram")))
        .otherwise(array(col("_lt")))).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("ngram").asc)
      .limit(TopNgrams)

  /** Minimum pair instances for a collocation candidate (rarer pairs are
    * statistical noise at any corpus size). */
  val CollocMinCount = 3
  /** Collocation report size. */
  val CollocTopN = 100

  /** Lift-scored collocations — the PMI-style bigram-association mining
    * every phrase/tokenizer-vocabulary pipeline runs: for each adjacent
    * lowercase token pair seen at least [[CollocMinCount]] times, the
    * association lift n_xy·N / (n_x·n_y) (the exponential of PMI up to
    * the constant pair-mass/token-mass ratio — monotone in PMI, so the
    * ranking is PMI's ranking). The customary log is deliberately NOT
    * applied: one integer multiply + one IEEE division is bit-identical
    * across engines ([[topTerms]]' discipline), while `ln` differs in
    * last-ulp between libms. Output: top [[CollocTopN]] by lift —
    * (w1, w2, n_xy, n_x, n_y, lift).
    *
    * 100 TB shape: two map-side-combined counts (pair grain, unigram
    * grain), the unigram relation joins the already-thresholded pair
    * relation on a word key (AQE broadcasts it when the vocabulary is
    * broadcast-sized — it is, after the pair table was the thing that was
    * big), one scalar total broadcast, TakeOrderedAndProject top-N. The
    * exact-integer lift products fit int64 while per-token counts stay
    * under ~3e9; past that, flip the doc'd cast-first variant. */
  def collocations(documents: DataFrame): DataFrame = {
    val docs = graft.sources.Tables.spread(documents)
    // staged (r17): `uni` feeds the scalar total AND both word joins —
    // unstaged, the tokenize+count pass over the corpus ran three times.
    // r18: both legs pre-aggregate per doc through the native GramCounts
    // (1-grams ≡ tokens, 2-grams ≡ adjacent pairs joined by one space —
    // identical strings, see its equivalence note), so the corpus-grain
    // rollups consume cell rows, never instance rows
    val uni = graft.engine.Staging.stage(
      docs.select(explode(
          graft.functions.GramCounts.of(lower(col("text")), 1)).as("tc"))
        .groupBy(col("tc.gram").as("w")).agg(sum(col("tc.cnt")).as("n_w")))
    val totals = uni.agg(sum("n_w").as("n_tok"))
    val pairs = docs
      .select(explode(
        graft.functions.GramCounts.of(lower(col("text")), 2)).as("pc"))
      .groupBy(col("pc.gram").as("pair")).agg(sum(col("pc.cnt")).as("n_xy"))
      .where(col("n_xy") >= CollocMinCount)
      .select(element_at(split(col("pair"), " "), 1).as("w1"),
        element_at(split(col("pair"), " "), 2).as("w2"), col("n_xy"))
    pairs
      .join(uni.select(col("w").as("w1"), col("n_w").as("n_x")), "w1")
      .join(uni.select(col("w").as("w2"), col("n_w").as("n_y")), "w2")
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("n_xy"), col("n_x"), col("n_y"),
        ((col("n_xy") * col("n_tok")).cast("double")
          / (col("n_x") * col("n_y"))).as("lift"))
      .orderBy(col("lift").desc, col("w1").asc, col("w2").asc)
      .limit(CollocTopN)
  }

  /** Heavy-hitter threshold denominator: a term is heavy iff
    * freq · denom > N (exact integer comparison on both engines). */
  val HeavyDenom = 200
  /** Misra-Gries capacity for [[heavyHitters]] — k+1 ≥ [[HeavyDenom]]
    * guarantees the sketch candidates are a superset of the true heavy
    * hitters, with 2× headroom. */
  val MgCapacity = 400
  /** Probe-sized sketch: capacity 8 against a 31-term vocabulary forces
    * the cancellation/eviction branches to fire at the oracle. */
  val MgProbeCapacity = 8
  /** Probe threshold: > 1/5 of the stream — only the planted token. */
  val HeavyProbeDenom = 5
  /** Planted-token repetitions for [[heavyProbe]]. */
  val HeavyPlantReps = 5000

  /** Exact heavy hitters through a sketch: pass 1 runs the bounded-state
    * [[graft.functions.MisraGries]] aggregate (≤ `capacity` counters per
    * partial state — never a full vocabulary shuffle), pass 2 exactly
    * recounts ONLY the ≤ `capacity` surviving candidates and keeps those
    * with freq · denom > N. Because MG has no false negatives when
    * capacity+1 ≥ denom (undercount ≤ N/(k+1) < N/denom), the output
    * EQUALS the naive full groupBy's answer — deterministically, although
    * intermediate sketch states depend on merge order — so the query is
    * exactly oracle-checkable while carrying the 100 TB plan. Output:
    * (term, freq, n_tok). */
  private[operators] def heavyHittersOver(docsText: DataFrame,
                                          capacity: Int, denom: Int): DataFrame = {
    require(capacity + 1 >= denom,
      s"capacity $capacity cannot guarantee heavy hitters at 1/$denom")
    // r18: the staged frame is the per-doc TERM-CELL table (native
    // GramCounts(lower, 1) — map-only), not one row per token instance:
    // cell rows are the distinct-terms-per-doc count, a strict subset of
    // the instance rows, and everything downstream is exact over them —
    // the sketch through the weighted reduce (a singleton merge: same
    // mergeable-summaries superset guarantee over N = Σ cnt), the
    // recount and N as integer sums
    val cells = graft.engine.Staging.stage(
      graft.sources.Tables.spread(docsText)
        .select(explode(
          graft.functions.GramCounts.of(lower(col("text")), 1)).as("tc"))
        .select(col("tc.gram").as("term"), col("tc.cnt").as("cnt")))
    val cand = cells
      .agg(graft.functions.MisraGriesWeighted.of(capacity)(
        col("term"), col("cnt")).as("cands"))
      .select(explode(col("cands")).as("c"))
      .select(col("c.item").as("term"))
    val counts = cells.join(broadcast(cand), "term")
      .groupBy("term").agg(sum("cnt").as("freq"))
    val n = cells.agg(sum("cnt").as("n_tok"))
    counts.crossJoin(broadcast(n))
      .where(col("freq") * denom > col("n_tok"))
      .select(col("term"), col("freq"), col("n_tok"))
  }

  /** Corpus heavy hitters: terms above 1/[[HeavyDenom]] of the token
    * stream, via [[heavyHittersOver]]'s sketch-then-recount. */
  def heavyHitters(documents: DataFrame): DataFrame =
    heavyHittersOver(documents.select("text"), MgCapacity, HeavyDenom)

  /** Heavy-hitter recovery probe: the corpus vocabulary is near-uniform
    * (no term clears 1/[[HeavyProbeDenom]]), so the positive branch — and
    * the sketch's cancellation path — never fire there. A planted token
    * repeated [[HeavyPlantReps]]× is unioned onto the corpus ON BOTH
    * ENGINES, and the probe-sized sketch (capacity [[MgProbeCapacity]] <
    * vocabulary, so evictions genuinely happen) must surface exactly the
    * planted token through the same recount. */
  def heavyProbe(documents: DataFrame): DataFrame = {
    val planted = documents.sparkSession.range(1)
      .select(expr(s"repeat('hh ', $HeavyPlantReps)").as("text"))
    heavyHittersOver(documents.select("text").unionAll(planted),
      MgProbeCapacity, HeavyProbeDenom)
  }

  /** Adjacent-pair table size for [[bpePairs]]. */
  val TopPairs = 100

  /** Adjacent-token-pair frequency — the statistic a BPE/WordPiece merge
    * step is trained on: corpus-wide INSTANCE counts of each adjacent
    * lowercase token pair (unlike [[ngramFreq]]'s per-document-distinct
    * document frequency — a merge decision weights every occurrence).
    * The top pair is exactly the next BPE merge.
    *
    * 100 TB shape: explode → two-phase count (map-side partial agg), top-N
    * as TakeOrderedAndProject; the shuffle carries one row per distinct
    * pair per partition, never per instance. */
  def bpePairs(documents: DataFrame): DataFrame =
    // r18: per-doc pair counts via the native GramCounts(lower, 2) (an
    // adjacent lowercase pair IS the 2-gram substring — identical
    // strings/counts); the corpus rollup sums cells, never instances
    graft.sources.Tables.spread(documents)
      .select(explode(
        graft.functions.GramCounts.of(lower(col("text")), 2)).as("pc"))
      .groupBy(col("pc.gram").as("pair")).agg(sum(col("pc.cnt")).as("freq"))
      .orderBy(col("freq").desc, col("pair").asc)
      .limit(TopPairs)

  /** Merge rounds for [[bpeMerges]] — enough that merged tokens themselves
    * get re-merged on the synthetic corpus (the loop's whole point). */
  val BpeMergeRounds = 6
  /** Token-boundary sentinels for the merge stream. Each token rides as
    * `\u0001tok\u0002`, so a pair occurrence is the exact substring
    * `\u0001a\u0002\u0001b\u0002` — string `replace` then IS the BPE merge
    * step: left-to-right, greedy, non-overlapping, with no boundary
    * sharing between adjacent matches (identical semantics in Spark's
    * UTF8String.replace and DuckDB's replace). The sentinels never occur
    * in text ([[toks]] output is space-split words). */
  private val BpeL = "\u0001"
  private val BpeR = "\u0002"
  private val BpeSep = BpeR + BpeL

  /** Tokens of a wrapped stream (strip outer sentinels, split between). */
  private def bpeStreamToks(s: Column): Column =
    split(s.substr(lit(2), length(s) - 2), BpeSep)

  /** Corpus-wide adjacent-pair instance counts over wrapped streams —
    * [[bpePairs]]'s statistic, re-counted each merge round. */
  private def bpeAdjacentPairs(streams: DataFrame): DataFrame =
    // r18 session 2: per-stream pair counts via the separator-parametric
    // native GramCounts — a sentinel-joined adjacent pair IS the 2-gram
    // byte range of the inner stream (tokens never contain the sentinel
    // bytes), so the per-round recount consumes pre-counted cells, never
    // one row per pair instance, and the interpreted per-slot concat is
    // gone from the merge loop. Identical strings and counts.
    streams
      .select(explode(graft.functions.GramCounts.of(
        col("s").substr(lit(2), length(col("s")) - 2), 2, BpeSep)).as("pc"))
      .groupBy(col("pc.gram").as("pair")).agg(sum(col("pc.cnt")).as("freq"))

  /** The actual BPE training loop ([[bpePairs]] is its round 0): `rounds`
    * iterations of count-pairs → pick the top pair (freq desc, pair asc —
    * the deterministic tiebreak) → merge every greedy-left-to-right
    * non-overlapping occurrence into one `a_b` token → recount. Returns
    * (merge table rows with the RAW sentinel-joined pair, final streams);
    * [[bpeMerges]] formats the public face. A corpus that runs out of
    * pairs emits nothing for the remaining rounds while the streams ride
    * through unchanged — the best pair attaches by a LEFT 1-row broadcast
    * join, so an empty best is the identity rewrite, not a corpus wipe
    * ([[bpeEncode]] depends on this; the oracle mirrors it with
    * `LEFT JOIN ... ON TRUE`).
    *
    * 100 TB shape: per round, pair counting is explode → two-phase count
    * (the shuffle carries one row per distinct pair per partition, never
    * per instance), top-1 is TakeOrderedAndProject, and the merge is a
    * map-only rewrite against the 1-row broadcast best pair. Streams are
    * staged per round ([[graft.engine.Staging.stageIterative]]) so lineage
    * stays flat — the same discipline as the Lloyd and connected-components
    * loops. */
  private[graft] def bpeMergeState(documents: DataFrame, rounds: Int)
      : (DataFrame, DataFrame) = {
    val init = Staging.stageIterative(Tables.spread(documents).select(
      col("doc_id"),
      concat(lit(BpeL), concat_ws(BpeSep, toks(col("text"))), lit(BpeR)).as("s")))
    val (merges, fin) = (1 to rounds).foldLeft((List.empty[DataFrame], init)) {
      case ((acc, st), r) =>
        val best = Staging.stage(bpeAdjacentPairs(st)
          .orderBy(col("freq").desc, col("pair").asc).limit(1)
          .select(lit(r).as("merge_round"), col("pair"), col("freq")))
        val next = Staging.stageIterative(
          st.join(broadcast(best.select(col("pair").as("bp"))), lit(true), "left")
            .select(col("doc_id"), when(col("bp").isNull, col("s"))
              .otherwise(replace(col("s"),
                concat(lit(BpeL), col("bp"), lit(BpeR)),
                concat(lit(BpeL), replace(col("bp"), lit(BpeSep), lit("_")),
                  lit(BpeR)))).as("s")))
        (acc :+ best, next)
    }
    (merges.reduce(_ union _), fin)
  }

  /** Iterative BPE merge-table training — the tokenizer-training loop an
    * LLM pipeline runs over its corpus: [[BpeMergeRounds]] merge rounds,
    * each applying the previous rounds' merges before counting (so late
    * rounds merge MERGED tokens — e.g. `a_b c`). Output one row per round:
    * (merge_round, pair "a b", freq at selection time, new_token "a_b").
    * Word-level BPE (the corpus token alphabet is plain lowercase words,
    * `_` never occurs, so merges are unambiguous and reversible — the
    * reconstruction spec pins this). */
  def bpeMerges(documents: DataFrame): DataFrame =
    bpeMergeState(documents, BpeMergeRounds)._1
      .select(col("merge_round"),
        replace(col("pair"), lit(BpeSep), lit(" ")).as("pair"),
        col("freq"),
        replace(col("pair"), lit(BpeSep), lit("_")).as("new_token"))

  /** Tokenizer application — encode every document under the merge table
    * [[bpeMerges]] trains, the second half of the tokenizer loop every
    * LLM pipeline runs (train merges once, then tokenize the whole
    * corpus). Output per document: the encoded token stream (merged
    * tokens joined by `_`), `n_tokens` after merging and `n_words`
    * before — the corpus-level `n_tokens/n_words` contraction is the
    * quantity BPE training descends. `n_words` is recovered from the
    * final stream itself (each merge concatenates with `_`, and `_`
    * never occurs in the word alphabet), so no join back to the source
    * is needed.
    *
    * 100 TB shape: the training rounds are [[bpeMergeState]]'s (pair
    * counting two-phase, merge a 1-row broadcast rewrite); the encode
    * face on top is a pure map over the final streams — no extra
    * shuffle, window, or join. */
  def bpeEncode(documents: DataFrame): DataFrame = {
    val fin = bpeMergeState(documents, BpeMergeRounds)._2
    val body = col("s").substr(lit(2), length(col("s")) - 2)
    val toksAfter = size(bpeStreamToks(col("s")))
    val underscores = length(col("s")) - length(replace(col("s"), lit("_"), lit("")))
    fin.select(
      col("doc_id"),
      replace(body, lit(BpeSep), lit(" ")).as("encoded"),
      toksAfter.as("n_tokens"),
      (toksAfter + underscores).as("n_words"))
  }

  /** The trained vocabulary — the third tokenizer artifact beside the
    * merge table ([[bpeMerges]]) and the encoded corpus ([[bpeEncode]]):
    * every distinct post-merge token with its corpus frequency and the
    * number of source words it spans (1 = an unmerged word, >1 = a
    * learned multi-word token). The (vocab, merges) pair is exactly what
    * a BPE tokenizer ships.
    *
    * 100 TB shape: explode over the staged final streams → two-phase
    * count; the shuffle carries one row per distinct token per
    * partition. */
  def bpeVocab(documents: DataFrame): DataFrame =
    bpeMergeState(documents, BpeMergeRounds)._2
      .select(explode(bpeStreamToks(col("s"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .select(col("token"), col("freq"),
        (length(col("token")) - length(replace(col("token"), lit("_"), lit("")))
          + 1).as("n_words"))

  /** Apply a FROZEN [[bpeMerges]] table to a document frame — the
    * serving-time tokenizer: merges are replayed in merge_round order
    * (each is one greedy left-to-right sentinel-exact `replace`, the
    * identical operation the training loop performed), so a corpus
    * encoded by `bpeApply(bpeMerges(c), c)` is bit-identical to the
    * training loop's own final streams (`TextAnalysisSpec` pins this).
    * Output schema = [[bpeEncode]]'s.
    *
    * 100 TB shape: the merge table packs into ONE row (array sorted by
    * merge_round) attached by a 1-row broadcast — the same
    * model-as-array pattern as the map-only Lloyd assignment; the fold
    * over it is per-row projection work. Documents never shuffle. An
    * empty merge table leaves every document un-merged (the fold over an
    * empty array returns its init), NOT an empty result. */
  def bpeApply(merges: DataFrame, documents: DataFrame): DataFrame = {
    val packed = merges.agg(array_sort(collect_list(struct(
      col("merge_round"), col("pair")))).as("ms"))
    val applied = Tables.spread(documents)
      .crossJoin(broadcast(packed))
      .select(col("doc_id"), aggregate(col("ms"),
        concat(lit(BpeL), concat_ws(BpeSep, toks(col("text"))), lit(BpeR)),
        (s, m) => replace(s,
          concat(lit(BpeL),
            replace(m.getField("pair"), lit(" "), lit(BpeSep)), lit(BpeR)),
          concat(lit(BpeL),
            replace(m.getField("pair"), lit(" "), lit("_")), lit(BpeR))))
        .as("s"))
    val body = col("s").substr(lit(2), length(col("s")) - 2)
    val toksAfter = size(bpeStreamToks(col("s")))
    val underscores = length(col("s")) - length(replace(col("s"), lit("_"), lit("")))
    applied.select(
      col("doc_id"),
      replace(body, lit(BpeSep), lit(" ")).as("encoded"),
      toksAfter.as("n_tokens"),
      (toksAfter + underscores).as("n_words"))
  }

  /** Tokenizer fertility per language — the standard tokenizer-equity
    * eval (fertility = tokens per whitespace word): a tokenizer trained
    * on skewed data compresses its majority language and leaves the
    * rest long, which is training cost AND context budget. For this
    * word-merge BPE the ratio sits in (0, 1] and lower = better
    * compression (a subword BPE would sit above 1 — the metric is the
    * same either way, and so is the per-language gap it exposes).
    * Per lang: doc count, total BPE tokens, total words, ratio, from
    * the SAME frozen merge table every other tokenizer face serves.
    * One exact division per language row.
    *
    * 100 TB shape: [[bpeApply]]'s map-only broadcast-fold encode, a
    * broadcast lang attach, one map-side-combined per-lang rollup. */
  def bpeFertility(s: SparkSession, d: String): DataFrame =
    bpeApply(trainedMerges(s, d), Tables.documents(s, d))
      .join(Tables.documents(s, d).select("doc_id", "lang"), "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"), sum("n_words").as("n_words"))
      .withColumn("fertility",
        col("n_tokens").cast("double") / col("n_words"))

  /** Persist / reload the trained merge table — the tokenizer model
    * artifact between [[bpeMerges]] (train once, offline) and its
    * consumers ([[bpeApply]], batch or on [[graft.streaming.StreamingScorer]]):
    * ≤[[BpeMergeRounds]] rows of (merge_round, pair, freq, new_token) as
    * plain parquet, deliberately unpartitioned — the whole model is a
    * handful of strings, broadcast-sized at any corpus scale (same
    * convention as [[Similarity.saveCentroids]]). */
  def saveMerges(merges: DataFrame, outDir: String): Unit =
    merges.coalesce(1).write.mode("overwrite").parquet(outDir)

  def loadMerges(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** Train-once memo for the tokenizer family (VERDICT r8 #3: the three
    * registered tokenizer queries each re-ran the full 6-round training
    * loop — the suite paid training 3×, and at 100 TB that is 18 corpus
    * rewrite passes instead of 6). The merge table is the MODEL — at most
    * [[BpeMergeRounds]] rows of strings — so it is collected once per
    * (session, corpus dir) and held as plain driver rows: immune to the
    * bench's per-query block release (which would strand a cached
    * lineage-truncated frame), and rebuilt deterministically if a new
    * session asks. This is the offline-train / online-apply split
    * ([[saveMerges]]/[[bpeApply]]) applied to the registry itself. */
  private val mergeMemo = new graft.engine.Artifacts.Memo[
    String, Array[(Int, String, Long, String)]]

  /** The trained merge table for a corpus directory — training runs at
    * most once per corpus GENERATION: the ≤[[BpeMergeRounds]]-row model
    * is persisted as a durable parquet artifact (fingerprint-keyed, so a
    * fresh session reopens the trained model instead of re-paying the
    * 6-round corpus rewrite — the sf10 warm-pass record measured that
    * tax at 13× on the compression-curve carrier), and held as plain
    * driver rows per process (NOT a hot-path collect: the merge table is
    * broadcast-sized by construction at any corpus scale). */
  def trainedMerges(s: SparkSession, d: String): DataFrame = {
    val dir = graft.engine.Artifacts.durable(s, "bpemerges", d) { tmp =>
      bpeMerges(Tables.documents(s, d))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
    }
    val rows = mergeMemo.once(dir)(
      s.read.parquet(dir)
        .select("merge_round", "pair", "freq", "new_token")
        .sort("merge_round").collect().map(r =>
          (r.getInt(0), r.getString(1), r.getLong(2), r.getString(3))))
    import s.implicits._
    rows.toSeq.toDF("merge_round", "pair", "freq", "new_token")
  }

  /** Vocabulary from an ALREADY-ENCODED corpus ([[bpeEncode]] /
    * [[bpeApply]] output) — identical output to [[bpeVocab]] (`encoded`
    * is the final merge stream space-joined, so splitting it back IS
    * [[bpeStreamToks]]), without re-running training. Same two-phase
    * count shape. */
  def bpeVocabOf(encoded: DataFrame): DataFrame =
    encoded.select(explode(
        graft.functions.GramCounts.of(col("encoded"), 1)).as("tc"))
      .groupBy(col("tc.gram").as("token")).agg(sum(col("tc.cnt")).as("freq"))
      .select(col("token"), col("freq"),
        (length(col("token")) - length(replace(col("token"), lit("_"), lit("")))
          + 1).as("n_words"))

  /** Repetition thresholds (Gopher-rule shaped: Rae et al. 2021 §A1.1 use
    * per-signal cutoffs like top-2-gram fraction and duplicate-line
    * fraction; the exact values are corpus-tuned). */
  val TopBigramFracMax = 0.18
  val DupTrigramFracMax = 0.30
  /** Docs shorter than this are never flagged repetitive: with n bigrams
    * the top-bigram fraction is ≥ 1/n even for all-distinct text, so the
    * 0.18 cutoff is meaningless under ~10 tokens. */
  val MinRepetitionTokens = 10

  /** Within-document repetition signals — the Gopher-style quality gate
    * that catches boilerplate and degenerate generations exact/near dedup
    * cannot (repetition INSIDE one document):
    *
    *   - `dup_token_frac`: fraction of token instances beyond each token's
    *     first occurrence,
    *   - `top_bigram_frac`: occurrences of the most frequent word 2-gram
    *     over all 2-gram instances,
    *   - `dup_trigram_frac`: fraction of 3-gram instances whose gram occurs
    *     more than once in the document,
    *   - `repetitive`: either fraction past its threshold.
    *
    * 100 TB shape: map-only scan; the three fractions come from ONE O(n)
    * hash-counting pass per document ([[graft.functions.RepetitionStats]],
    * a native expression — the declarative nested-higher-order version
    * re-evaluated the gram arrays per lambda element: O(n²) interpreted
    * string builds, 41 s of the sf0.1 bench). */
  def repetition(documents: DataFrame): DataFrame =
    Tables.spread(documents)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"),
        graft.functions.RepetitionStats.of(split(col("text"), " ")).as("r"))
      .select(
        col("doc_id"),
        col("r.dup_token_frac").as("dup_token_frac"),
        col("r.top_bigram_frac").as("top_bigram_frac"),
        col("r.dup_trigram_frac").as("dup_trigram_frac"),
        (col("n") >= MinRepetitionTokens &&
          (col("r.top_bigram_frac") > TopBigramFracMax ||
            col("r.dup_trigram_frac") > DupTrigramFracMax)).as("repetitive"))

  /** The repetition gate as ONE expression over `text` (identical
    * semantics to [[repetition]]'s `repetitive` column; identical
    * subtrees are eliminated by codegen subexpression elimination). */
  def repetitiveCol: Column = {
    val r = graft.functions.RepetitionStats.of(split(col("text"), " "))
    size(split(col("text"), " ")) >= MinRepetitionTokens &&
      (r.getField("top_bigram_frac") > TopBigramFracMax ||
        r.getField("dup_trigram_frac") > DupTrigramFracMax)
  }

  /** Per-document keyword count for [[topTerms]]. */
  val TopTermsPerDoc = 5

  /** Per-document top-[[TopTermsPerDoc]] salient terms — the tf-idf stage
    * of a corpus analysis. Salience = tf · (N / df): term frequency scaled
    * by inverse document frequency WITHOUT the customary log — one IEEE
    * division of exact integers is bit-identical across engines, while
    * `ln` differs in last-ulp between libm implementations and would break
    * the hash-match oracle on near-ties. The ranking is monotone in the
    * conventional tf·idf for fixed tf, and the exact (tf, df, salience)
    * triple is emitted so a consumer can re-weight.
    *
    * 100 TB shape: two map-side-combined aggregations (doc×term, then
    * term), a broadcast of the corpus-size scalar, and a per-doc top-k
    * window whose partition key (doc_id) has corpus cardinality — no
    * skewed/driver-sized partitions anywhere. */
  def topTerms(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.spread(documents)
    // r18: per-doc term counts are a per-row pure function — native
    // GramCounts(text, 1) (1-grams ≡ tokens) instead of explode +
    // groupBy(doc_id, term): the instance-level hash aggregate and its
    // Exchange are gone (identical exact counts, see GramCounts)
    val tf = docs
      .select(col("doc_id"),
        explode(graft.functions.GramCounts.of(col("text"), 1)).as("tc"))
      .select(col("doc_id"), col("tc.gram").as("term"), col("tc.cnt").as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = documents.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
      .withColumn("salience",
        (col("tf") * col("n_docs")).cast("double") / col("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("salience").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= TopTermsPerDoc)
      .select(col("doc_id"), col("term"), col("rank"), col("tf"), col("df"),
        col("salience"))
  }

  /** Terms entering the Zipf fit (the distribution head; the tail of a
    * real corpus is hapax-dominated noise that a log-log fit shouldn't
    * see). */
  val ZipfTerms = 1000

  /** Corpus Zipf fit — the macro-statistic that sanity-checks a corpus
    * build: least-squares slope/intercept/R² of ln(freq) on ln(rank) over
    * the top-[[ZipfTerms]] terms (natural text slopes ≈ −1; a synthetic
    * or template-heavy corpus shows a flat or kinked fit). One output row:
    * (n_terms, n_fit, slope, intercept, r2).
    *
    * 100 TB shape: term frequencies are one map-side-combined
    * aggregation; the head extraction is TakeOrderedAndProject
    * (per-partition heaps, no global sort); the regression runs over the
    * ≤[[ZipfTerms]]-row head — constant-bounded, so its single-partition
    * window and final scalar aggregate are driver-sized by construction.
    * ln() enters only after all integer aggregation, and the oracle
    * compares within float tolerance. */
  def zipf(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r18: per-doc cells via native GramCounts — the term rollup sums
    // cells, never instances (identical exact counts)
    val tf = Tables.spread(documents)
      .select(explode(graft.functions.GramCounts.of(col("text"), 1)).as("tc"))
      .groupBy(col("tc.gram").as("term")).agg(sum(col("tc.cnt")).as("freq"))
    val top = tf.orderBy(col("freq").desc, col("term").asc).limit(ZipfTerms)
    val ranked = top.select(col("freq"),
      row_number().over(Window.orderBy(col("freq").desc, col("term").asc))
        .as("rank"))
    val x = log(col("rank").cast("double"))
    val y = log(col("freq").cast("double"))
    val s = ranked.agg(
      count(lit(1)).as("n_fit"),
      sum(x).as("sx"), sum(y).as("sy"),
      sum(x * x).as("sxx"), sum(x * y).as("sxy"), sum(y * y).as("syy"))
    val nTotal = tf.agg(count(lit(1)).as("n_terms"))
    val n = col("n_fit").cast("double")
    val num = n * col("sxy") - col("sx") * col("sy")
    val denom = n * col("sxx") - col("sx") * col("sx")
    val slope = num / denom
    val intercept = (col("sy") - slope * col("sx")) / n
    val r2 = num * num / (denom * (n * col("syy") - col("sy") * col("sy")))
    s.crossJoin(broadcast(nTotal)).select(
      col("n_terms"), col("n_fit"),
      slope.as("slope"), intercept.as("intercept"), r2.as("r2"))
  }

  /** Vocabulary size for [[vocabCoverage]] — deliberately SMALLER than the
    * synthetic fixture's ~31-term vocabulary so the registered query's
    * OOV rates are non-trivial (a production run sizes this to the
    * tokenizer's vocab, e.g. 32k–100k). */
  val VocabSize = 24

  /** Vocabulary coverage / OOV measurement — the tokenizer-fit check a
    * corpus build runs before training: the vocabulary is the corpus's
    * top-[[VocabSize]] terms by frequency (ties term-asc), and every
    * document reports how much of its token mass falls outside it. One
    * row per document: (doc_id, n_tokens, n_oov, oov_rate).
    *
    * 100 TB shape: term frequencies are one map-side-combined
    * aggregation; the vocabulary head is TakeOrderedAndProject and
    * broadcasts; the per-document count is a second map-side-combined
    * aggregation over the exploded scan joined map-side against the
    * broadcast vocabulary — the corpus shuffles only (doc_id, counts). */
  def vocabCoverage(documents: DataFrame): DataFrame = {
    // r18: both legs ride per-doc cells (native GramCounts) — the vocab
    // rollup and the OOV join/count consume cell rows, never instances
    // (identical exact counts: n_tokens = Σ cnt, n_oov = Σ cnt over OOV)
    val tk = Tables.spread(documents)
      .select(col("doc_id"),
        explode(graft.functions.GramCounts.of(col("text"), 1)).as("tc"))
      .select(col("doc_id"), col("tc.gram").as("term"), col("tc.cnt").as("cnt"))
    val vocab = tk.groupBy("term").agg(sum("cnt").as("freq"))
      .orderBy(col("freq").desc, col("term").asc).limit(VocabSize)
      .select(col("term"), lit(1).as("in_vocab"))
    tk.join(broadcast(vocab), Seq("term"), "left")
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_tokens"),
        sum(when(col("in_vocab").isNull, col("cnt")).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens")).as("oov_rate"))
  }

  // ---- BM25 keyword retrieval ---------------------------------------------

  /** BM25 parameters (Robertson/Spärck Jones; the Lucene defaults). */
  val Bm25K1 = 1.2
  val Bm25B = 0.75

  /** The registered query's fixed keyword set — five mid-frequency corpus
    * terms, so document-frequency, length normalization, and multi-term
    * accumulation are all non-trivial on the synthetic vocabulary. */
  val Bm25Query: Seq[String] = Seq("spark", "table", "join", "window", "scan")

  def bm25Search(documents: DataFrame): DataFrame =
    bm25Search(documents, Bm25Query)

  /** BM25 keyword retrieval — the relevance scorer a corpus build uses to
    * pull topical slices out of a crawl (and the classic lexical-search
    * baseline next to the ANN operators): every document matching ≥1 query
    * term is scored
    * `Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))` with the
    * Lucene-style always-positive `idf = ln((N − df + ½)/(df + ½) + 1)`.
    * One row per matching document: (doc_id, n_matched_terms, bm25_score).
    * Deliberately NO rank column: near-tied doubles rank differently
    * across engines, while the scores themselves compare under float
    * tolerance.
    *
    * 100 TB shape: corpus statistics touch ONLY the query terms — the
    * exploded scan filters on the term set before any shuffle (tf carries
    * doc length through the aggregate, so no doc-length join back), the
    * ≤|Q|-row idf table and the 1-row (N, avgdl) scalar broadcast, and
    * the final per-doc sum is a map-side-combined aggregation over
    * ≤ |Q| rows per doc. Nothing corpus-wide is materialized per term. */
  def bm25Search(documents: DataFrame, terms: Seq[String]): DataFrame =
    bm25From(lexStats(documents, terms), terms)

  /** ONE tokenize pass per corpus serving every lexical-retrieval
    * consumer (r18; guide §2.4): per document its token count, the
    * per-query-term counts (a bounded array — NO full-token explode and
    * no (doc, term) shuffle), and the distinct-token Jaccard inputs the
    * [[rrfFusion]] second leg needs. Staged because [[bm25From]] reads
    * it twice (corpus scalars + tf rows) and the fusion adds a third
    * reader — as one lazy frame each consumer would re-split the corpus
    * text. The staged frame is corpus-cardinality but ~40 B/row (ids and
    * small ints), the classic lightweight-proxy shape (guide §8).
    * Token arrays are projected to attributes BEFORE the counting
    * select: a HOF lambda over an inline computed array re-evaluates
    * the array per element (the r17 interpreted-lambda class). */
  private def lexStats(documents: DataFrame, terms: Seq[String]): DataFrame =
    graft.engine.Staging.stage(Tables.spread(documents)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), col("tk"), array_distinct(col("tk")).as("dt"))
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("dl"),
        array(terms.map(tm =>
          size(filter(col("tk"), x => x === lit(tm))).cast("long")): _*).as("tfs"),
        size(col("dt")).as("nt"),
        size(array_intersect(col("dt"),
          array(terms.map(lit): _*))).as("inter")))

  /** BM25 core over a staged [[lexStats]] frame: identical arithmetic to
    * the r17 exploded form — tf values are the same integer counts (a
    * term's count in the token array == its exploded-row count), df is
    * the same per-term document count, and idf/score are unchanged
    * expressions over identical operands.
    *
    * Plan shape (r18): ONE 1-row aggregate carries every corpus
    * statistic BM25 needs — n_docs, avgdl, AND the per-term document
    * frequencies (formerly a (doc, term) shuffle for df, a second
    * corpus-scalars pass, and a cross join: three exchanges). The ≤|Q|
    * idf values broadcast back as an array and the per-document score is
    * MAP-ONLY — no token explode, no per-doc aggregation exchange. At
    * any scale the corpus shuffles nothing: one tokenize pass, one 1-row
    * reduce, one broadcast. */
  private def bm25From(stats: DataFrame, terms: Seq[String]): DataFrame = {
    val aggs = Seq(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl")) ++
      terms.indices.map(i =>
        sum(when(col("tfs")(i) > 0, 1L).otherwise(0L)).as(s"df_$i"))
    val model = stats.agg(aggs.head, aggs.tail: _*)
      .select(col("avgdl"), array(terms.indices.map(i =>
          log((col("n_docs") - col(s"df_$i") + 0.5) / (col(s"df_$i") + 0.5)
            + 1.0)): _*)
        .as("idfs"))
    stats.crossJoin(broadcast(model))
      .where(exists(col("tfs"), t => t > lit(0L)))
      .select(col("doc_id"),
        size(filter(col("tfs"), t => t > lit(0L))).cast("long")
          .as("n_matched_terms"),
        aggregate(
          zip_with(col("tfs"), col("idfs"), (tf, idf) =>
            when(tf > lit(0L),
              idf * (tf * lit(Bm25K1 + 1)) /
                (tf + lit(Bm25K1) *
                  (lit(1 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl"))))
              .otherwise(lit(0.0))),
          lit(0.0), (acc, x) => acc + x).as("bm25_score"))
  }

  // ---- Hybrid retrieval: reciprocal-rank fusion ---------------------------

  /** RRF smoothing constant (Cormack/Clarke/Buettcher 2009's k = 60). */
  val RrfK = 60
  /** Candidate-list depth per ranker; fused result size. */
  val RrfDepth = 200
  val RrfTopK = 50

  /** Hybrid retrieval — reciprocal-rank fusion of the two lexical
    * retrieval signals the engine ships: [[bm25Search]] (tf-idf weighted,
    * saturating) and distinct-token Jaccard overlap with the same query
    * (pure set similarity — rewards short focused documents that BM25's
    * length normalization treats differently). Each ranker contributes
    * its top-[[RrfDepth]] list; a document's fused score is
    * `Σ 1/(k + rank_i)` over the lists it appears in. Rank-based fusion
    * needs no score normalization across heterogeneous rankers — the
    * reason RRF is the standard fusion step in hybrid lexical+vector
    * retrieval stacks (swap the Jaccard leg for an ANN leg and this is
    * that pipeline verbatim).
    *
    * Ranks are made engine-portable by ordering on the score ROUNDED to
    * 6 dp with doc_id tiebreak: raw near-tied doubles rank differently
    * across engines (the hazard [[bm25Search]]'s no-rank contract
    * documents), while a 6-dp bucket puts cross-engine 1-ulp twins in
    * the same bucket and lets the exact integer tiebreak decide. The
    * Jaccard leg's scores are exact small-integer ratios and need no
    * rounding. Output: top-[[RrfTopK]] (doc_id, rrf_score, bm25_rank,
    * jaccard_rank); a rank is null when the document missed that list.
    *
    * 100 TB shape: both rankers end in TakeOrderedAndProject top-N — no
    * full sort, no corpus-wide window; the row_number windows and the
    * full-outer fusion run over two ≤[[RrfDepth]]-row frames (the
    * single-partition window is over an already-bounded list, which is
    * the point of fusing top-N lists rather than whole rankings). The
    * corpus is scanned once per ranker and never shuffled beyond
    * [[bm25Search]]'s per-term aggregates. */
  def rrfFusion(documents: DataFrame, terms: Seq[String] = Bm25Query): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r18: both retrieval legs ride ONE staged tokenize pass ([[lexStats]]
    // carries the Jaccard inputs beside the BM25 counts) — previously the
    // corpus text was split three times per run (tf build, corpus
    // scalars, Jaccard leg)
    val stats = lexStats(documents, terms)
    val lex = bm25From(stats, terms)
      .select(col("doc_id"), round(col("bm25_score"), 6).as("s"))
      .orderBy(col("s").desc, col("doc_id").asc).limit(RrfDepth)
      .withColumn("bm25_rank",
        row_number().over(Window.orderBy(col("s").desc, col("doc_id").asc)).cast("long"))
    val jac = stats
      .where(col("inter") > 0)
      .select(col("doc_id"), (col("inter").cast("double") /
        (col("nt") + lit(terms.size) - col("inter"))).as("j"))
      .orderBy(col("j").desc, col("doc_id").asc).limit(RrfDepth)
      .withColumn("jaccard_rank",
        row_number().over(Window.orderBy(col("j").desc, col("doc_id").asc)).cast("long"))
    // full-outer over two ≤RrfDepth lists as union + per-doc max (each
    // doc contributes ≤1 non-null rank per leg, so max IS the outer
    // join's coalesce) — one tiny aggregation instead of a sort-merge
    // full-outer join's two sort legs (r18)
    lex.select(col("doc_id"), col("bm25_rank"),
        lit(null).cast("long").as("jaccard_rank"))
      .unionByName(jac.select(col("doc_id"),
        lit(null).cast("long").as("bm25_rank"), col("jaccard_rank")))
      .groupBy("doc_id")
      .agg(max("bm25_rank").as("bm25_rank"),
        max("jaccard_rank").as("jaccard_rank"))
      .select(col("doc_id"),
        (coalesce(lit(1.0) / (col("bm25_rank") + RrfK), lit(0.0)) +
          coalesce(lit(1.0) / (col("jaccard_rank") + RrfK), lit(0.0))).as("rrf_score"),
        col("bm25_rank"), col("jaccard_rank"))
      .orderBy(col("rrf_score").desc, col("doc_id").asc).limit(RrfTopK)
  }

  /** Per-document unigram surprisal — the perplexity-proxy quality signal
    * (CCNet filters crawl text by LM perplexity; the unigram corpus model
    * is its exactly-computable, oracle-checkable stand-in): with
    * p(t) = freq(t)/total over the whole corpus,
    * `cross_entropy = mean over doc tokens of −ln p(t)` and
    * `perplexity = exp(cross_entropy)`. Template/boilerplate-heavy
    * documents score LOW (their tokens are corpus-frequent), rare-token
    * noise scores HIGH — both tails are drop candidates in a real build.
    * One row per document: (doc_id, n_tokens, cross_entropy, perplexity).
    *
    * 100 TB shape: term frequencies are one map-side-combined
    * aggregation; the token↔frequency attach shuffles on `term` (the
    * standard shape — a natural-text vocabulary is too large to
    * broadcast); the per-doc reduction is map-side combined and the
    * 1-row total broadcasts. ln/exp enter only after integer counts, so
    * the oracle compares within float tolerance. */
  def unigramSurprisal(documents: DataFrame): DataFrame =
    unigramSurprisalFrom(
      Tables.spread(documents)
        .select(explode(graft.functions.GramCounts.of(col("text"), 1)).as("tc"))
        .groupBy(col("tc.gram").as("term")).agg(sum(col("tc.cnt")).as("freq")),
      documents)

  /** [[unigramSurprisal]] core over a PREBUILT (term, freq) table — the
    * face the session model artifact ([[surprisalModelArtifact]]) feeds:
    * counts round-trip parquet exactly, so the scores are bit-identical
    * to an inline build. */
  def unigramSurprisalFrom(tf: DataFrame, documents: DataFrame): DataFrame = {
    val tk = Tables.spread(documents)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val total = tf.agg(sum("freq").as("total"))
    val ce = log(col("total").cast("double")) - col("slf") / col("n_tokens")
    tk.join(tf, "term")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(log(col("freq").cast("double"))).as("slf"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("n_tokens"),
        ce.as("cross_entropy"), exp(ce).as("perplexity"))
  }

  /** A FROZEN unigram reference model — the incremental face of
    * [[unigramSurprisal]]: build once over the reference corpus (the
    * 100 TB side; term frequencies staged, at real scale a persisted
    * table), then score any number of incoming batches or micro-batches
    * against it without touching the corpus again. Both members stay
    * DataFrames — nothing collects to the driver. */
  final case class UnigramModel(termFreqs: DataFrame, total: DataFrame)

  def buildUnigramModel(documents: DataFrame): UnigramModel = {
    // r18: the model rollup sums per-doc cells (native GramCounts) —
    // identical exact counts, instance rows never shuffle
    val tf = graft.engine.Staging.stage(Tables.spread(documents)
      .select(explode(graft.functions.GramCounts.of(col("text"), 1)).as("tc"))
      .groupBy(col("tc.gram").as("term")).agg(sum(col("tc.cnt")).as("freq")))
    UnigramModel(tf, tf.agg(sum("freq").as("total")))
  }

  /** Score incoming (doc_id, text) rows against the FROZEN model with
    * add-half smoothing: `nll(t) = ln(total + ½) − ln(freq(t) + ½)`,
    * freq = 0 for out-of-vocabulary tokens — unseen vocabulary scores
    * strictly higher than anything in-model (the out-of-domain signal
    * CCNet's reference-LM filter produces). Same output shape as
    * [[unigramSurprisal]]; values differ by the smoothing, which the
    * frozen-model probe needs and the closed corpus does not.
    *
    * 100 TB shape: the token↔model attach is a left join on `term`
    * against the staged/persisted model table; the 1-row total
    * broadcasts; per-doc reduction map-side combines. O(batch) per
    * probe, the corpus never rescans. */
  def probeSurprisal(model: UnigramModel, incoming: DataFrame): DataFrame = {
    val tk = incoming.select(col("doc_id"),
      explode(split(col("text"), " ")).as("term"))
    tk.join(model.termFreqs, Seq("term"), "left")
      .crossJoin(broadcast(model.total))
      .select(col("doc_id"),
        (log(col("total").cast("double") + 0.5)
          - log(coalesce(col("freq"), lit(0L)).cast("double") + 0.5)).as("nll"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), avg("nll").as("cross_entropy"))
      .select(col("doc_id"), col("n_tokens"), col("cross_entropy"),
        exp(col("cross_entropy")).as("perplexity"))
  }

  /** The registered incremental-surprisal query: the [[Dedup.IncomingMod]]
    * split convention — doc_id ≡ 0 (mod 5) plays the "new batch" (~20%),
    * the rest is the frozen reference corpus. Exactly the
    * [[buildUnigramModel]] + [[probeSurprisal]] path
    * ([[graft.streaming.StreamingScorer]] runs the same probe per
    * micro-batch), so the DuckDB oracle checks both faces. */
  def surprisalProbeSplit(documents: DataFrame): DataFrame = {
    val isIncoming = col("doc_id") % Dedup.IncomingMod === 0
    probeSurprisal(buildUnigramModel(documents.where(!isIncoming)),
      documents.where(isIncoming))
  }

  /** A FROZEN bigram reference model — one real step past
    * [[UnigramModel]] toward the CCNet reference-LM filter: per-token
    * context now matters (boilerplate with common words in UNCOMMON order
    * scores high, which the unigram model cannot see). Unigram counts,
    * bigram counts, corpus total; all DataFrames, staged — nothing
    * collects to the driver. */
  final case class BigramModel(unigrams: DataFrame, bigrams: DataFrame,
                               total: DataFrame)

  /** Raw unigram counts (term, uf) — shared by the in-session
    * [[buildBigramModel]] and the parquet artifact writer. */
  private def unigramCounts(src: DataFrame): DataFrame =
    src.select(explode(graft.functions.GramCounts.of(col("text"), 1)).as("tc"))
      .groupBy(col("tc.gram").as("term")).agg(sum(col("tc.cnt")).as("uf"))

  /** Raw bigram counts (hist, term, bf) — r18: per-doc 2-gram cells via
    * native GramCounts (a 2-gram IS the "hist term" pair joined by one
    * space, and tokens contain no spaces, so gram ↔ (hist, term) is a
    * bijection split back once per DISTINCT pair after the rollup —
    * identical exact counts). */
  private def bigramCounts(src: DataFrame): DataFrame =
    src.select(explode(graft.functions.GramCounts.of(col("text"), 2)).as("pc"))
      .groupBy(col("pc.gram").as("g")).agg(sum(col("pc.cnt")).as("bf"))
      .select(element_at(split(col("g"), " "), 1).as("hist"),
        element_at(split(col("g"), " "), 2).as("term"), col("bf"))

  def buildBigramModel(documents: DataFrame): BigramModel = {
    val src = Tables.spread(documents)
    val uni = Staging.stage(unigramCounts(src))
    val bi = Staging.stage(bigramCounts(src))
    BigramModel(uni, bi, uni.agg(sum("uf").as("total")))
  }

  /** Score (doc_id, text) rows against a FROZEN [[BigramModel]] with
    * add-half smoothing and unigram BACKOFF: per token position i,
    *
    *   - i = 0, or history token unseen by the model (the out-of-domain
    *     case only probes can hit): `nll = ln(total+½) − ln(uf(t)+½)`,
    *     uf = 0 when t itself is unseen — the [[probeSurprisal]] formula;
    *   - otherwise: `nll = ln(uf(h)+½) − ln(bf(h,t)+½)`, bf = 0 for an
    *     unseen continuation — the add-half conditional p(t|h), ≤ 1 by
    *     construction (bf(h,t) ≤ uf(h)).
    *
    * `cross_entropy` = mean nll over the document, `perplexity` = exp of
    * it — same output shape as [[probeSurprisal]], strictly sharper
    * signal. Exactly computable on both engines (ln enters only after
    * integer counts), so the whole backoff scorer is oracle-checked.
    *
    * 100 TB shape: history pairing is a map-only per-row array transform
    * (no window, no self-join); the token↔model attaches are left joins
    * on `term` / (hist, term) against the staged model tables (a natural
    * vocabulary is too large to broadcast — the shuffle on the term keys
    * is the standard shape); the 1-row total broadcasts; the per-doc
    * reduction map-side combines. O(batch) per probe. */
  def probeBigramSurprisal(model: BigramModel, incoming: DataFrame): DataFrame = {
    // token array projected first — see [[collocations]]' lambda note
    // (measured here: the inline form re-split the text once per TOKEN;
    // 2.8 s -> 0.33 s for the history pairing at sf0.1)
    val t = col("_toks")
    val tk = incoming
      .select(col("doc_id"), split(col("text"), " ").as("_toks"))
      .select(col("doc_id"),
      explode(transform(sequence(lit(0), size(t) - 1),
        i => struct(when(i > lit(0), get(t, i - 1)).as("hist"),
          get(t, i).as("term")))).as("p"))
      .select(col("doc_id"), col("p.hist").as("hist"), col("p.term").as("term"))
    val hu = model.unigrams.select(col("term").as("hist"), col("uf").as("hf"))
    // Attach order, measured r17: a branch-split variant (join hist
    // first, route only the backoff rows — position 0 / unseen history —
    // through the term join) was tried to cut one token-grain shuffle
    // join, and REVERTED: at bench scale the model tables broadcast, so
    // the original chain is one map-only pipeline over a single tokenize
    // pass, while the split recomputes the tokenize+history explode once
    // per branch (text_bigram_surprisal 2.81 → 3.81 s). The chain below
    // is optimal whenever the model broadcasts; when a real vocabulary
    // forces shuffle joins, the three joins all key on model-side terms
    // and partial-aggregate afterwards — the documented standard shape.
    tk.join(model.unigrams, Seq("term"), "left")
      .join(hu, Seq("hist"), "left")
      .join(model.bigrams, Seq("hist", "term"), "left")
      .crossJoin(broadcast(model.total))
      .select(col("doc_id"),
        when(col("hist").isNull || col("hf").isNull,
          log(col("total").cast("double") + 0.5)
            - log(coalesce(col("uf"), lit(0L)).cast("double") + 0.5))
        .otherwise(
          log(col("hf").cast("double") + 0.5)
            - log(coalesce(col("bf"), lit(0L)).cast("double") + 0.5))
        .as("nll"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), avg("nll").as("cross_entropy"))
      .select(col("doc_id"), col("n_tokens"), col("cross_entropy"),
        exp(col("cross_entropy")).as("perplexity"))
  }

  /** Closed-corpus bigram surprisal — the [[unigramSurprisal]] upgrade:
    * the corpus scores against its own bigram model (histories are always
    * in-vocab, so only the i=0 backoff fires). ONE scoring implementation
    * serves both faces — this is [[probeBigramSurprisal]] over
    * [[buildBigramModel]] of the same frame. */
  def bigramSurprisal(documents: DataFrame): DataFrame =
    probeBigramSurprisal(buildBigramModel(documents), documents)

  /** The registered incremental-bigram query — same [[Dedup.IncomingMod]]
    * split as [[surprisalProbeSplit]], scored by the backoff bigram model
    * ([[graft.streaming.StreamingScorer]] runs [[probeBigramSurprisal]] per
    * micro-batch). */
  def bigramProbeSplit(documents: DataFrame): DataFrame = {
    val isIncoming = col("doc_id") % Dedup.IncomingMod === 0
    probeBigramSurprisal(buildBigramModel(documents.where(!isIncoming)),
      documents.where(isIncoming))
  }

  /** Train-once memo for the surprisal family ([[trainedMerges]]'
    * convention at vocabulary scale — VERDICT r9 #1): the four registered
    * surprisal queries plus [[Corpus.curriculum]]'s scoring leg each
    * rebuilt their frozen n-gram model from the raw corpus, so one suite
    * run paid two full-corpus and two 80 %-split model builds. Unlike the
    * ≤[[BpeMergeRounds]]-row BPE model, n-gram count tables are
    * vocabulary-sized — too large to collect — so the memo follows
    * [[Dedup.lshClusterArtifact]]'s disk convention: the first consumer
    * in a session writes the unigram and bigram count tables as parquet
    * ARTIFACTS (the published-model form a production perplexity filter
    * ships anyway), and every later consumer reopens them as plain
    * columnar scans — immune to the bench's per-query persistent-block
    * release, which would strand a memoized lineage-truncated frame.
    * Keyed by (session, dir, split): `full` = the closed-corpus models,
    * `ref` = the resident split the [[Dedup.IncomingMod]] probes score
    * against. */
  /** The frozen [[BigramModel]] for a corpus directory — built at most
    * once per (corpus generation, split), reopened across sessions.
    * Integer counts round-trip parquet exactly, so every consumer scores
    * bit-identically to an inline [[buildBigramModel]]. */
  def surprisalModelArtifact(s: SparkSession, d: String,
                             full: Boolean): BigramModel = {
    val tag = if (full) "full" else "ref"
    val base = graft.engine.Artifacts.durable(s, s"surprisal-$tag", d) { tmp =>
      val docs0 = Tables.documents(s, d)
      val src = Tables.spread(
        if (full) docs0
        else docs0.where(col("doc_id") % Dedup.IncomingMod =!= 0))
      unigramCounts(src).write.mode("overwrite").parquet(s"$tmp/uni")
      bigramCounts(src).write.mode("overwrite").parquet(s"$tmp/bi")
    }
    val uni = s.read.parquet(s"$base/uni")
    BigramModel(uni, s.read.parquet(s"$base/bi"),
      uni.agg(sum("uf").as("total")))
  }

  /** [[UnigramModel]] face of the session artifact — the shape
    * [[probeSurprisal]] consumes (`uf` renamed to `freq`; the bigram
    * table simply isn't opened). */
  def unigramModelArtifact(s: SparkSession, d: String,
                           full: Boolean): UnigramModel = {
    val m = surprisalModelArtifact(s, d, full)
    UnigramModel(m.unigrams.select(col("term"), col("uf").as("freq")), m.total)
  }

  /** Tokenizer compression curve — corpus token count after each merge
    * prefix (round 0 = the raw stream), the scaling curve a tokenizer
    * owner reads to decide how many merges are worth training: the
    * marginal saving per round IS the curve's discrete slope, and the
    * greedy non-overlapping replace means the saving is genuinely
    * measured, not the (overlap-inflated) selection-time pair freq.
    * Rides the session merge memo, so training is NOT re-paid. Output:
    * (merge_round, corpus_tokens, compression = tokens_r/tokens_0).
    *
    * 100 TB shape: ONE map-only broadcast-fold pass — the fold applies
    * the merges in sequence (as [[bpeApply]] does) and records the token
    * count after every round via sentinel-char arithmetic (every token
    * rides wrapped in the [[BpeL]] sentinel, so #tokens is a length
    * subtraction, no split), so the whole curve costs 6 rewrites and one
    * corpus scan instead of Σr per-prefix passes; the tail is a
    * ≤rounds+1-row rollup. */
  def bpeCompressionCurve(s: SparkSession, d: String): DataFrame = {
    val merges = trainedMerges(s, d)
    val docs = Tables.documents(s, d)
    val packed = merges.agg(array_sort(collect_list(struct(
      col("merge_round"), col("pair")))).as("ms"))
    val init = concat(lit(BpeL), concat_ws(BpeSep, toks(col("text"))), lit(BpeR))
    def nTok(c: Column) =
      (length(c) - length(replace(c, lit(BpeL), lit("")))).cast("long")
    val folded = Tables.spread(docs).crossJoin(broadcast(packed))
      .select(aggregate(col("ms"),
        struct(init.as("s"), array(nTok(init)).as("cnts")),
        (acc, m) => {
          val ns = replace(acc.getField("s"),
            concat(lit(BpeL),
              replace(m.getField("pair"), lit(" "), lit(BpeSep)), lit(BpeR)),
            concat(lit(BpeL),
              replace(m.getField("pair"), lit(" "), lit("_")), lit(BpeR)))
          struct(ns.as("s"),
            concat(acc.getField("cnts"), array(nTok(ns))).as("cnts"))
        }).getField("cnts").as("cnts"))
    val curve = folded
      .select(posexplode(col("cnts")).as(Seq("merge_round", "ct")))
      .groupBy("merge_round").agg(sum("ct").as("corpus_tokens"))
    val t0 = curve.where(col("merge_round") === 0)
      .select(col("corpus_tokens").as("t0"))
    curve.crossJoin(broadcast(t0))
      .select(col("merge_round"), col("corpus_tokens"),
        round(col("corpus_tokens").cast("double") / col("t0"), 6)
          .as("compression"))
  }

  /** Lexical diversity — type-token ratio and the length-robust root TTR
    * (Guiraud's index), the vocabulary-richness quality signal beside
    * [[quality]]'s ratios: a low TTR at moderate length marks template/
    * spam text that repeats a small vocabulary without tripping the
    * adjacent-repetition gate. Map-only; exact integers into two fixed
    * divisions. Output: (doc_id, n_tokens, n_types, ttr, root_ttr). */
  def lexicalDiversity(documents: DataFrame): DataFrame =
    Tables.spread(documents).select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("n_types"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        round(col("n_types").cast("double") / col("n_tokens"), 6).as("ttr"),
        round(col("n_types").cast("double")
          / sqrt(col("n_tokens").cast("double")), 6).as("root_ttr"))

  /** Character-level Shannon entropy per document — the gibberish gate
    * the token-grain signals cannot see: base64/hex blobs score near the
    * uniform ceiling (ln of the alphabet in use), repeated-character
    * padding scores near 0, while natural English sits in a narrow band
    * (~2.8–3.1 nats) — both tails are curation drops before a tokenizer
    * ever meets them. Complements [[quality]] (punct/stopword ratios at
    * the token grain) and [[lexicalDiversity]] (vocabulary richness):
    * a base64 blob is ONE "token" with perfect type-token ratio and no
    * flagged punctuation, invisible to both. Output:
    * (doc_id, n_chars, n_distinct_chars, char_entropy).
    *
    * Numerics: H = ln n − (Σ c·ln c)/n over the per-(doc, char) exact
    * integer counts — identical expression shape on both engines; the
    * ≤|charset| per-doc terms reorder within ~1 ulp. `.` (portable
    * between Java regex and RE2: both exclude newline, both advance one
    * code point) extracts the character stream.
    *
    * 100 TB shape: one map-side-combined (doc, char) count — the cell
    * grain is ≤ printable-ASCII per doc, so the combine collapses ~n/95
    * per cell before the exchange — then a per-doc rollup; no joins, no
    * windows. */
  def charEntropy(documents: DataFrame): DataFrame = {
    // Σ c·ln(c) as a LEFT FOLD over the ch-sorted count list, not a float
    // SUM aggregate: a float sum's within-group order is a plan artifact
    // (adding the r11 left-join below reordered it by 1 ulp), while the
    // sorted fold is a fixed-shape expression over exact ints — the same
    // sequence of IEEE adds on both engines under ANY plan (DuckDB
    // list_sum folds its list in order; ≤|charset| elements per doc).
    //
    // Round-17 shape (guide §2.4/§4): the histogram is a pure per-row
    // function of `text`, so it is computed by the native [[CharCounts]]
    // expression — count sequence identical to the old explode →
    // groupBy(doc, ch) → sorted-collect pipeline (code point order ==
    // UTF-8 string order), fold unchanged, so every double is the same
    // sequence of IEEE adds. The old plan paid one exploded row per
    // CHARACTER through the regex engine, two exchanges, and a left join
    // to restore empty documents; this one is map-only — zero exchanges
    // at any corpus size, and empty documents fall out of the same
    // expression (empty list → the degenerate row) instead of a join.
    val clnc = (acc: Column, x: Column) =>
      acc + x.cast("double") * log(x.cast("double"))
    documents
      .select(col("doc_id"),
        coalesce(graft.functions.CharCounts.of(col("text")),
          typedLit(Array.empty[Long])).as("cl"))
      .select(col("doc_id"),
        aggregate(col("cl"), lit(0L), (acc, x) => acc + x).as("n_chars"),
        size(col("cl")).cast("long").as("n_distinct_chars"),
        col("cl"))
      .select(col("doc_id"), col("n_chars"), col("n_distinct_chars"),
        when(col("n_chars") === 0L, lit(0.0))
          .otherwise(log(col("n_chars").cast("double"))
            - aggregate(col("cl"), lit(0.0), clnc)
              / col("n_chars").cast("double")).as("char_entropy"))
  }

  /** Minimum corpus instances for a burstiness candidate. */
  val BurstMinCount = 5L
  /** Burstiness report size. */
  val BurstTopN = 100

  /** Term burstiness — the variance-to-mean ratio of per-document counts
    * over ALL documents (zeros included), Church/Gale's content-word
    * detector: a term scattered uniformly (function words) sits near the
    * Poisson VMR while a term that arrives in bursts (topical/content
    * words, boilerplate markers) scores far above it. Computed EXACTLY:
    * VMR = (N·Σc² − T²)/(N·T) with every sum a 64-bit integer and one
    * fixed-shape double division at the end ([[Events.gini]]'s
    * discipline; the envelope holds while N·Σc² < 2⁶³). Output: top
    * [[BurstTopN]] by (burstiness desc, term asc) —
    * (term, n_docs_containing, total, burstiness).
    *
    * 100 TB shape: one (doc, term) count (map-side combined), one term
    * rollup, a 1-row broadcast N, TakeOrderedAndProject top-N. */
  def termBurstiness(documents: DataFrame): DataFrame = {
    // r18: map-only per-doc term counts via native GramCounts(lower, 1)
    // — the former explode + groupBy(doc_id, term) exchange is gone
    val cells = Tables.spread(documents)
      .select(col("doc_id"),
        explode(graft.functions.GramCounts.of(lower(col("text")), 1)).as("tc"))
      .select(col("doc_id"), col("tc.gram").as("term"), col("tc.cnt").as("c"))
    val n = documents.agg(count(lit(1)).as("n_docs"))
    cells.groupBy("term").agg(
        count(lit(1)).as("n_docs_containing"),
        sum("c").as("total"),
        sum(col("c") * col("c")).as("ss"))
      .where(col("total") >= BurstMinCount)
      .crossJoin(broadcast(n))
      .select(col("term"), col("n_docs_containing"), col("total"),
        round((col("n_docs") * col("ss") - col("total") * col("total"))
          .cast("double") / (col("n_docs") * col("total")), 6)
          .as("burstiness"))
      .orderBy(col("burstiness").desc, col("term").asc).limit(BurstTopN)
  }

  /** Keywords reported per document by [[tfidfKeywords]]. */
  val TfidfTopK = 3

  /** Per-document TF-IDF keyword extraction — the classic content-tagging
    * face (the raw-count tf · ln(N/df) variant): for every document its
    * top [[TfidfTopK]] terms by tf·idf, ties to the lexicographically
    * smaller term. Output: (doc_id, kw_rank, term, tfidf) with the score
    * rounded to 6 decimals AFTER ranking (ranking compares the raw
    * doubles, which are bit-identical across engines — one int multiply,
    * one ln, one IEEE divide).
    *
    * 100 TB shape: the (doc, term) tf aggregation and the term-grain df
    * rollup are both map-side combined (a stopword term that appears in
    * EVERY document partial-aggregates before it moves — the reason df
    * is a groupBy + join on term, not a count window: a window partition
    * has no combine step, so one universal key would funnel the whole
    * posting list through a single task, and AQE can split a skewed
    * join but never a skewed window). The only window is the
    * per-document top-K rank on hash(doc_id) — bounded by doc length,
    * no global sort. N_docs is a 1-row broadcast. */
  def tfidfKeywords(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // staged (r18): tf feeds the df rollup AND the scoring join — as one
    // lazy frame each reference re-ran the corpus tokenize+count. The
    // cells themselves are the map-only native GramCounts(text, 1) (the
    // former explode + groupBy(doc_id, term) exchange is gone).
    val tf = graft.engine.Staging.stage(Tables.spread(documents)
      .select(col("doc_id"),
        explode(graft.functions.GramCounts.of(col("text"), 1)).as("tc"))
      .select(col("doc_id"), col("tc.gram").as("term"), col("tc.cnt").as("tf")))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = documents.agg(count(lit(1)).as("n_docs"))
    tf.join(df, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", col("tf").cast("double") *
        log(col("n_docs").cast("double") / col("df").cast("double")))
      .withColumn("kw_rank", row_number().over(Window.partitionBy("doc_id")
        .orderBy(col("tfidf").desc, col("term").asc)).cast("long"))
      .where(col("kw_rank") <= TfidfTopK)
      .select(col("doc_id"), col("kw_rank"), col("term"),
        round(col("tfidf"), 6).as("tfidf"))
  }

  /** N-gram width for the cross-document novelty signal (5 is the
    * customary published-pipeline span: long enough that collisions mean
    * shared provenance, short enough to survive light edits). */
  val NoveltyN = 5

  /** Cross-document novelty — the inter-document twin of [[repetition]]
    * (which looks only within a document) and the per-document face of
    * what the dedup family decides wholesale: for each document with at
    * least [[NoveltyN]] tokens, the fraction of its 5-gram slots whose
    * 5-gram also occurs in at least one OTHER document. A low score marks
    * boilerplate/templated text that near-dup pairwise measures only
    * catch when the pair survives banding. Output: (doc_id, n_grams,
    * n_shared, novelty = 1 − shared/slots, rounded 6).
    *
    * 100 TB shape: one (doc, gram) aggregation (map-side combined — the
    * multiplicity stays local), a gram-grain rollup REDUCED to the
    * shared-gram set before it joins back (groupBy + join, not a count
    * window: a boilerplate gram present in every document would funnel
    * its whole posting list through one window task, while the partial
    * aggregate collapses it map-side and AQE can skew-split the join),
    * then the per-document rollup on hash(doc_id). No pairwise term
    * anywhere — cost is O(tokens), the same envelope as a shingle
    * scan. */
  def novelty(documents: DataFrame): DataFrame = {
    // staged: the gram cells feed BOTH the shared-gram rollup and the
    // per-document join below; as one lazy frame each consumer re-runs
    // the explode + (doc, gram) aggregation (the captured r17 plan
    // tokenized the corpus twice). One materialization, two readers.
    val cells = graft.engine.Staging.stage(gramCells(documents))
    val shared = cells.groupBy("gram").agg(count(lit(1)).as("n_docs_g"))
      .where(col("n_docs_g") > 1)
      .select(col("gram"), lit(true).as("is_shared"))
    cells.join(shared, Seq("gram"), "left")
      .groupBy("doc_id").agg(
        sum("cnt").as("n_grams"),
        sum(when(col("is_shared"), col("cnt")).otherwise(0L)).as("n_shared"))
      .select(col("doc_id"), col("n_grams"), col("n_shared"),
        round(lit(1.0) - col("n_shared").cast("double") / col("n_grams"), 6)
          .as("novelty"))
  }

  /** The (doc_id, gram, cnt) [[NoveltyN]]-gram multiplicity cells of a
    * (doc_id, text) frame — the one gram extraction behind [[novelty]],
    * [[buildGramIndex]] and [[probeNovelty]]. */
  private def gramCells(documents: DataFrame): DataFrame =
    // r18: the per-(doc, gram) multiplicity is a per-row pure function —
    // one native [[graft.functions.GramCounts]] pass (grams emitted as
    // substrings of the text; identical values, see its equivalence note)
    // instead of explode + groupBy(doc_id, gram): the gram-instance hash
    // aggregate and its Exchange are gone at any scale, so the first
    // shuffle the novelty family pays is the gram-grain rollup of
    // already-counted cells. Docs under NoveltyN tokens yield the empty
    // array ≡ the former `where(size(toks) >= NoveltyN)` filter.
    Tables.spread(documents)
      .select(col("doc_id"),
        explode(graft.functions.GramCounts.of(col("text"), NoveltyN)).as("gc"))
      .select(col("doc_id"), col("gc.gram").as("gram"), col("gc.cnt").as("cnt"))

  /** Frozen gram index of a base corpus — the DISTINCT [[NoveltyN]]-grams
    * (at scale, a persisted bucketed table; here the train-offline side
    * of the [[probeNovelty]] split). */
  def buildGramIndex(base: DataFrame): DataFrame =
    gramCells(base).select("gram").distinct()

  /** Score a batch against a FROZEN gram index — [[novelty]]'s
    * probe face (what [[graft.streaming.StreamingScorer]] runs per
    * micro-batch): per incoming document the fraction of its gram slots
    * NOT already in the base corpus. A near-zero score on arrival means
    * boilerplate or near-copy of the corpus — the online admission gate. Output:
    * (doc_id, n_grams, n_seen, novelty).
    *
    * 100 TB shape: O(batch) gram cells left-joined against the persisted
    * index on hash(gram); the corpus side is built once. */
  def probeNovelty(index: DataFrame, incoming: DataFrame): DataFrame =
    gramCells(incoming)
      .join(index.withColumn("seen", lit(true)), Seq("gram"), "left")
      .groupBy("doc_id").agg(
        sum("cnt").as("n_grams"),
        sum(when(col("seen"), col("cnt")).otherwise(0L)).as("n_seen"))
      .select(col("doc_id"), col("n_grams"), col("n_seen"),
        round(lit(1.0) - col("n_seen").cast("double") / col("n_grams"), 6)
          .as("novelty"))

  /** The registered incremental face — same [[Dedup.IncomingMod]] split
    * as [[surprisalProbeSplit]]: index the resident corpus, score the
    * incoming 20 %. */
  def noveltyProbeSplit(documents: DataFrame): DataFrame = {
    val isIncoming = col("doc_id") % Dedup.IncomingMod === 0
    probeNovelty(buildGramIndex(documents.where(!isIncoming)),
      documents.where(isIncoming))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_tfidf_keywords" -> ((s, d) => tfidfKeywords(Tables.documents(s, d))),
    "text_novelty" -> ((s, d) => novelty(Tables.documents(s, d))),
    "text_novelty_probe" -> ((s, d) => noveltyProbeSplit(Tables.documents(s, d))),
    "text_term_burstiness" -> ((s, d) => termBurstiness(Tables.documents(s, d))),
    "text_lexical_diversity" -> ((s, d) => lexicalDiversity(Tables.documents(s, d))),
    "text_char_entropy" -> ((s, d) => charEntropy(Tables.documents(s, d))),
    // the surprisal family trains ONCE per (session, dir, split) via the
    // parquet model artifact; each query replays the frozen counts
    // (bit-identical to an inline build — SurprisalArtifactSpec pins it)
    "text_surprisal_probe" -> ((s, d) =>
      probeSurprisal(unigramModelArtifact(s, d, full = false),
        Tables.documents(s, d).where(col("doc_id") % Dedup.IncomingMod === 0))),
    "text_unigram_surprisal" -> ((s, d) => unigramSurprisalFrom(
      surprisalModelArtifact(s, d, full = true).unigrams
        .select(col("term"), col("uf").as("freq")),
      Tables.documents(s, d))),
    "text_bigram_surprisal" -> ((s, d) => probeBigramSurprisal(
      surprisalModelArtifact(s, d, full = true), Tables.documents(s, d))),
    "text_bigram_probe" -> ((s, d) => probeBigramSurprisal(
      surprisalModelArtifact(s, d, full = false),
      Tables.documents(s, d).where(col("doc_id") % Dedup.IncomingMod === 0))),
    "text_bm25_search" -> ((s, d) => bm25Search(Tables.documents(s, d))),
    "text_hybrid_rrf"  -> ((s, d) => rrfFusion(Tables.documents(s, d))),
    "text_vocab_coverage" -> ((s, d) => vocabCoverage(Tables.documents(s, d))),
    "text_zipf"        -> ((s, d) => zipf(Tables.documents(s, d))),
    "text_top_terms"   -> ((s, d) => topTerms(Tables.documents(s, d))),
    "text_repetition"  -> ((s, d) => repetition(Tables.documents(s, d))),
    "text_token_stats" -> ((s, d) => tokenStats(Tables.documents(s, d))),
    "text_readability" -> ((s, d) => readability(Tables.documents(s, d))),
    "text_hash_embedding" -> ((s, d) => hashEmbedding(Tables.documents(s, d))),
    "text_dense_search" -> ((s, d) => denseSearch(Tables.documents(s, d))),
    "text_lang_id"     -> ((s, d) => langId(Tables.documents(s, d))),
    "text_lang_confusion" -> ((s, d) => langConfusion(Tables.documents(s, d))),
    "text_quality"     -> ((s, d) => quality(Tables.documents(s, d))),
    "text_fingerprint" -> ((s, d) => fingerprint(Tables.documents(s, d))),
    "text_ngram_freq"  -> ((s, d) => ngramFreq(Tables.documents(s, d))),
    "text_collocations" -> ((s, d) => collocations(Tables.documents(s, d))),
    "text_heavy_hitters" -> ((s, d) => heavyHitters(Tables.documents(s, d))),
    "text_heavy_probe" -> ((s, d) => heavyProbe(Tables.documents(s, d))),
    "text_bpe_pairs"   -> ((s, d) => bpePairs(Tables.documents(s, d))),
    // the tokenizer family trains ONCE per (session, dir) via the merge
    // memo; encode and vocab replay the frozen model with bpeApply's
    // map-only broadcast fold (bit-identical to the training loop's own
    // final streams — TextAnalysisSpec pins bpeApply == bpeEncode)
    "text_bpe_merges"  -> ((s, d) => trainedMerges(s, d)),
    "text_bpe_encode"  -> ((s, d) => bpeApply(trainedMerges(s, d), Tables.documents(s, d))),
    "text_bpe_fertility" -> (bpeFertility _),
    "text_bpe_compression_curve" -> (bpeCompressionCurve _),
    "text_bpe_vocab"   -> ((s, d) =>
      bpeVocabOf(bpeApply(trainedMerges(s, d), Tables.documents(s, d)))),
    "text_pii_scan"    -> ((s, d) => piiScan(Tables.documents(s, d))),
    "text_pii_redact"  -> ((s, d) => piiRedact(Tables.documents(s, d))),
    "text_quality_deciles" -> ((s, d) => qualityDeciles(Tables.documents(s, d))),
    "text_quality_classifier" -> ((s, d) => qualityClassifier(Tables.documents(s, d))),
    "text_pii_probe"   -> ((s, d) => piiProbe(Tables.documents(s, d))),
    "text_lang_probe"  -> ((s, d) => langProbe(Tables.documents(s, d))),
    "text_repetition_probe" -> ((s, d) => repetitionProbe(Tables.documents(s, d))),
  )

  // ---- DuckDB mirrors ------------------------------------------------------

  private def inList(words: Seq[String]) =
    words.map(w => s"'$w'").mkString("(", ", ", ")")

  /** [[unigramSurprisal]]'s SQL mirror — one text shared by the
    * `text_unigram_surprisal` oracle and `corpus_curriculum`'s scoring
    * leg (the drift-proofing convention of [[bm25Sql]]). */
  private[operators] def unigramSurprisalSql: String =
    s"""WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |   FROM documents),
       | tf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS freq FROM tk GROUP BY term),
       | tot AS (SELECT CAST(SUM(freq) AS BIGINT) AS total FROM tf),
       | d AS (SELECT tk.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |     SUM(ln(CAST(freq AS DOUBLE))) AS slf
       |   FROM tk JOIN tf USING (term) GROUP BY tk.doc_id)
       | SELECT doc_id, n_tokens,
       |   ln(CAST(tot.total AS DOUBLE)) - slf / n_tokens AS cross_entropy,
       |   exp(ln(CAST(tot.total AS DOUBLE)) - slf / n_tokens) AS perplexity
       | FROM d CROSS JOIN tot""".stripMargin

  /** [[bm25Search]]'s SQL mirror — one text shared by the
    * `text_bm25_search` oracle and the lexical leg of `text_hybrid_rrf`. */
  private def bm25Sql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       | lens AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM d),
       | sc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, AVG(dl) AS avgdl FROM lens),
       | tok AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, unnest(t) AS term FROM d),
       | tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf, MAX(dl) AS dl
       |   FROM tok WHERE term IN ${inList(Bm25Query)} GROUP BY doc_id, term),
       | idf AS (SELECT term,
       |     ln((sc.n_docs - df + 0.5) / (df + 0.5) + 1.0) AS idf, sc.avgdl
       |   FROM (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term)
       |   CROSS JOIN sc)
       | SELECT tf.doc_id, CAST(COUNT(*) AS BIGINT) AS n_matched_terms,
       |   SUM(idf.idf * (tf.tf * ${Bm25K1 + 1}) /
       |       (tf.tf + $Bm25K1 * (1 - $Bm25B + $Bm25B * tf.dl / idf.avgdl)))
       |     AS bm25_score
       | FROM tf JOIN idf ON tf.term = idf.term GROUP BY tf.doc_id""".stripMargin

  private def scoreSql(l: String, words: Seq[String]) =
    s"len(list_filter(t, x -> x IN ${inList(words)})) AS s_$l"

  /** Quality-signal CTEs ending in relation
    * `qscore(doc_id, punct_ratio, stopword_ratio, quality_score)` — the
    * single SQL mirror of [[quality]], shared by the `text_quality` and
    * `corpus_clean` oracles so the formula cannot drift between them. */
  private[operators] def qualityScoreSqlWith: String =
    s"""qb AS (SELECT doc_id,
       |   length(text) AS n_chars,
       |   length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS n_punct,
       |   len(string_split(text, ' ')) AS n_tok,
       |   len(list_filter(string_split(lower(text), ' '),
       |       x -> x IN ${inList(EnStopwords)})) AS n_stop
       |  FROM documents),
       | qr AS (SELECT doc_id,
       |   CASE WHEN n_chars = 0 THEN CAST(0 AS DOUBLE)
       |        ELSE CAST(n_punct AS DOUBLE) / n_chars END AS punct_ratio,
       |   CASE WHEN n_tok = 0 THEN CAST(0 AS DOUBLE)
       |        ELSE CAST(n_stop AS DOUBLE) / n_tok END AS stopword_ratio,
       |   LEAST(CAST(n_chars AS DOUBLE) / 500.0, 1.0) AS len_score
       |  FROM qb),
       | qscore AS (SELECT doc_id, punct_ratio, stopword_ratio,
       |   stopword_ratio * 0.3 + (1.0 - punct_ratio) * 0.3 + len_score * 0.4
       |     AS quality_score FROM qr)""".stripMargin

  /** Repetition-signal CTEs ending in relation
    * `rrep(doc_id, dup_token_frac, top_bigram_frac, dup_trigram_frac,
    * repetitive)` — the single SQL mirror of [[repetition]], shared by the
    * `text_repetition` and `corpus_clean` oracles so the formula cannot
    * drift between them (same pattern as [[qualityScoreSqlWith]]). */
  private[operators] def repetitionSqlWith: String = repetitionSqlWith("documents")

  /** Parametric variant: the `text_repetition_probe` oracle runs the same
    * CTEs over an augmented source relation. */
  private[operators] def repetitionSqlWith(src: String): String = {
    val topBgFrac =
      """CASE WHEN len(bg) = 0 THEN CAST(0 AS DOUBLE)
        |     ELSE CAST(list_max(list_transform(list_distinct(bg),
        |       g2 -> len(list_filter(bg, x -> x = g2)))) AS DOUBLE) / len(bg) END""".stripMargin
    val dupTgFrac =
      """CASE WHEN len(tg) = 0 THEN CAST(0 AS DOUBLE)
        |     ELSE CAST(len(list_filter(tg,
        |       g3 -> len(list_filter(tg, x -> x = g3)) >= 2)) AS DOUBLE) / len(tg) END""".stripMargin
    s"""rtk AS (SELECT doc_id, string_split(text, ' ') AS t FROM $src),
       | rg AS (SELECT doc_id, t,
       |   CASE WHEN len(t) >= 2 THEN list_transform(range(len(t) - 1),
       |     i -> array_to_string(t[i + 1 : i + 2], ' ')) ELSE [] END AS bg,
       |   CASE WHEN len(t) >= 3 THEN list_transform(range(len(t) - 2),
       |     i -> array_to_string(t[i + 1 : i + 3], ' ')) ELSE [] END AS tg
       |  FROM rtk),
       | rrep AS (SELECT doc_id,
       |   CASE WHEN len(t) = 0 THEN CAST(0 AS DOUBLE)
       |     ELSE CAST(len(t) - len(list_distinct(t)) AS DOUBLE) / len(t) END
       |     AS dup_token_frac,
       |   $topBgFrac AS top_bigram_frac,
       |   $dupTgFrac AS dup_trigram_frac,
       |   len(t) >= $MinRepetitionTokens AND (($topBgFrac > $TopBigramFracMax)
       |     OR ($dupTgFrac > $DupTrigramFracMax)) AS repetitive
       |  FROM rg)""".stripMargin
  }

  /** SQL mirror of [[qualityClassifier]] ending in relation
    * `clf(doc_id, n_tokens, logit)` — shared by the `text_quality_classifier`
    * and `corpus_clean_clf` oracles so the model cannot drift between its
    * scoring and its gating face. */
  private[operators] def classifierSqlWith(src: String = "documents"): String =
    s"""ctk AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
       |  FROM $src),
       | ctw AS (SELECT doc_id,
       |   (${ClfWeightTenths.mkString("[", ", ", "]")}::BIGINT[])[
       |     CAST(('0x' || substring(md5(term), 1, 8))::BIGINT % $ClfDim AS INTEGER) + 1]
       |     AS twi
       |  FROM ctk),
       | cagg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |   CAST(50000 * (3 * COUNT(*) + 2 * SUM(twi)) AS BIGINT) AS a
       |  FROM ctw GROUP BY doc_id),
       | clf AS (SELECT doc_id, n_tokens,
       |   CAST(CASE WHEN a >= 0 THEN (2*a + n_tokens) // (2*n_tokens)
       |     ELSE -((-2*a + n_tokens) // (2*n_tokens)) END AS DOUBLE)
       |     / 1000000.0 AS logit
       |  FROM cagg)""".stripMargin

  /** SQL mirror of [[buildBigramModel]] + [[probeBigramSurprisal]],
    * parametric over the model/probe source predicates so the closed
    * (`text_bigram_surprisal`) and split (`text_bigram_probe`) oracles
    * share one text and cannot drift. chr(4) plays the "no history"
    * marker (first token), chr(3) the pair joiner — neither occurs in
    * text. */
  private def bigramSurprisalSql(modelWhere: String, probeWhere: String) =
    s"""WITH mt AS (SELECT string_split(text, ' ') AS t FROM documents $modelWhere),
       | u AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS uf
       |   FROM (SELECT unnest(t) AS term FROM mt) GROUP BY term),
       | tot AS (SELECT CAST(SUM(uf) AS BIGINT) AS total FROM u),
       | b AS (SELECT string_split(pr, chr(3))[1] AS hist,
       |     string_split(pr, chr(3))[2] AS term,
       |     CAST(COUNT(*) AS BIGINT) AS bf
       |   FROM (SELECT unnest(CASE WHEN len(t) >= 2
       |       THEN list_transform(range(len(t) - 1), i -> t[i + 1] || chr(3) || t[i + 2])
       |       ELSE []::VARCHAR[] END) AS pr FROM mt)
       |   GROUP BY hist, term),
       | pt AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents $probeWhere),
       | tk AS (SELECT doc_id,
       |     string_split(pr, chr(3))[1] AS hist,
       |     string_split(pr, chr(3))[2] AS term
       |   FROM (SELECT doc_id, unnest(list_transform(range(len(t)), i ->
       |       CASE WHEN i = 0 THEN chr(4) ELSE t[i] END || chr(3) || t[i + 1])) AS pr
       |     FROM pt)),
       | sc AS (SELECT tk.doc_id,
       |     CASE WHEN tk.hist = chr(4) OR hu.uf IS NULL
       |       THEN ln(CAST(tot.total AS DOUBLE) + 0.5)
       |         - ln(CAST(COALESCE(tu.uf, 0) AS DOUBLE) + 0.5)
       |       ELSE ln(CAST(hu.uf AS DOUBLE) + 0.5)
       |         - ln(CAST(COALESCE(b.bf, 0) AS DOUBLE) + 0.5) END AS nll
       |   FROM tk LEFT JOIN u tu ON (tk.term = tu.term)
       |     LEFT JOIN u hu ON (tk.hist = hu.term)
       |     LEFT JOIN b ON (tk.hist = b.hist AND tk.term = b.term)
       |     CROSS JOIN tot),
       | d AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |     AVG(nll) AS cross_entropy FROM sc GROUP BY doc_id)
       | SELECT doc_id, n_tokens, cross_entropy,
       |   exp(cross_entropy) AS perplexity FROM d""".stripMargin

  /** DuckDB spelling of [[BpeSep]] (`chr(1)`/`chr(2)` mirror
    * [[BpeL]]/[[BpeR]]). */
  private val BpeOracleSep = "chr(2) || chr(1)"

  /** The [[bpeMergeState]] loop as DuckDB CTEs, shared by the
    * `text_bpe_merges` and `text_bpe_encode` oracles: each round
    * re-splits the wrapped streams, counts adjacent pairs, picks the
    * (freq desc, pair asc) best, and replace()-merges it — replace is
    * left-to-right greedy non-overlapping in BOTH engines, which is
    * exactly the BPE step. Streams `s0..sN` carry doc_id (the merge
    * choice ignores it; the encode face needs it). */
  private def bpeOracleCtes: String = {
    val sep = BpeOracleSep
    def round(r: Int) =
      s"""p$r AS (SELECT unnest(CASE WHEN len(t) >= 2
         |   THEN list_transform(range(len(t) - 1), i -> t[i + 1] || $sep || t[i + 2])
         |   ELSE []::VARCHAR[] END) AS pair
         |  FROM (SELECT string_split(s[2 : len(s) - 1], $sep) AS t FROM s${r - 1})),
         | b$r AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS freq FROM p$r
         |  GROUP BY pair ORDER BY freq DESC, pair ASC LIMIT 1),
         | s$r AS (SELECT doc_id, CASE WHEN pair IS NULL THEN s
         |    ELSE replace(s, chr(1) || pair || chr(2),
         |      chr(1) || replace(pair, $sep, '_') || chr(2)) END AS s
         |  FROM s${r - 1} LEFT JOIN b$r ON TRUE)""".stripMargin
    s"""s0 AS (SELECT doc_id, chr(1) ||
       |    array_to_string(string_split(lower(text), ' '), $sep) || chr(2) AS s
       |  FROM documents),
       | ${(1 to BpeMergeRounds).map(round).mkString(",\n ")}""".stripMargin
  }

  /** SQL mirror of [[denseSearch]] — the query's signed counts come
    * from the SAME driver-side arithmetic, interpolated as a VALUES
    * literal; scores are exact-integer dots under one division, so the
    * two engines rank identically. */
  private def denseSearchSql: String = {
    val (qraw, ssq) = denseQueryRaw(Bm25Query)
    val scoreExpr = "CAST(intdot AS DOUBLE) / (sqrt(CAST(ssd AS DOUBLE)) * " +
      s"sqrt(CAST($ssq AS DOUBLE)))"
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |   FROM documents),
       | s AS (SELECT doc_id,
       |     ${Dedup.h32SqlOf("'hemb:' || term")} % $HashEmbDim AS dim,
       |     CASE WHEN ${Dedup.h32SqlOf("'hsgn:' || term")} % 2 = 0
       |       THEN 1 ELSE -1 END AS sgn
       |   FROM tok),
       | a AS (SELECT doc_id, dim, CAST(SUM(sgn) AS BIGINT) AS raw
       |   FROM s GROUP BY 1, 2),
       | n AS (SELECT doc_id, CAST(SUM(raw * raw) AS BIGINT) AS ssd
       |   FROM a GROUP BY 1),
       | q(dim, qraw) AS (VALUES
       |   ${qraw.map { case (d, w) => s"($d, $w)" }.mkString(", ")}),
       | sc AS (SELECT a.doc_id,
       |     CAST(SUM(a.raw * q.qraw) AS BIGINT) AS intdot, n.ssd
       |   FROM a JOIN q ON q.dim = a.dim JOIN n ON n.doc_id = a.doc_id
       |   GROUP BY a.doc_id, n.ssd)
       | SELECT doc_id, $scoreExpr AS dense_score, CAST(rn AS INTEGER) AS rank
       | FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY $scoreExpr DESC,
       |     doc_id ASC) AS rn
       |   FROM sc WHERE ssd > 0)
       | WHERE rn <= $DenseTopK""".stripMargin
  }

  /** [[novelty]]'s CTE prologue ending in relation `nov(doc_id, n_grams,
    * n_shared, novelty)` — one text for the `text_novelty` oracle and
    * the `corpus_metric_corr` composition. */
  private[operators] def noveltySqlWith: String =
    s"""ntok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       | ng AS (SELECT doc_id, unnest(list_transform(
       |       range(len(t) - ${NoveltyN - 1}),
       |       i -> array_to_string(t[i + 1 : i + $NoveltyN], ' '))) AS gram
       |   FROM ntok WHERE len(t) >= $NoveltyN),
       | ncells AS (SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS cnt
       |   FROM ng GROUP BY 1, 2),
       | nw AS (SELECT *, COUNT(*) OVER (PARTITION BY gram) AS n_docs_g
       |   FROM ncells),
       | nov AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_grams,
       |   CAST(SUM(CASE WHEN n_docs_g > 1 THEN cnt ELSE 0 END) AS BIGINT)
       |     AS n_shared,
       |   round(1.0 - CAST(SUM(CASE WHEN n_docs_g > 1 THEN cnt ELSE 0 END)
       |     AS DOUBLE) / SUM(cnt), 6) AS novelty
       | FROM nw GROUP BY doc_id)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "text_tfidf_keywords" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |   FROM documents),
         | tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
         |   FROM tok GROUP BY 1, 2),
         | wdf AS (SELECT *, COUNT(*) OVER (PARTITION BY term) AS df FROM tf),
         | n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
         | sc AS (SELECT doc_id, term,
         |     CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))
         |       AS tfidf
         |   FROM wdf CROSS JOIN n),
         | r AS (SELECT doc_id, term, tfidf, CAST(ROW_NUMBER() OVER
         |     (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS BIGINT)
         |     AS kw_rank FROM sc)
         | SELECT doc_id, kw_rank, term, round(tfidf, 6) AS tfidf
         | FROM r WHERE kw_rank <= $TfidfTopK""".stripMargin,

    "text_novelty" ->
      s"""WITH $noveltySqlWith
         | SELECT doc_id, n_grams, n_shared, novelty FROM nov""".stripMargin,

    "text_lexical_diversity" ->
      """SELECT doc_id,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        | CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_types,
        | round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |   / len(string_split(text, ' ')), 6) AS ttr,
        | round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |   / sqrt(CAST(len(string_split(text, ' ')) AS DOUBLE)), 6) AS root_ttr
        | FROM documents""".stripMargin,

    "text_char_entropy" ->
      """WITH cells AS (SELECT doc_id, unnest(regexp_extract_all(text, '.'))
        |     AS ch FROM documents),
        | cc AS (SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
        |   FROM cells GROUP BY doc_id, ch),
        | sc AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_chars,
        |   CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
        |   ln(CAST(SUM(c) AS DOUBLE))
        |     - list_sum(list_transform(list(c ORDER BY ch),
        |         x -> CAST(x AS DOUBLE) * ln(CAST(x AS DOUBLE))))
        |       / CAST(SUM(c) AS DOUBLE) AS char_entropy
        | FROM cc GROUP BY doc_id)
        | SELECT d.doc_id, COALESCE(sc.n_chars, 0) AS n_chars,
        |   COALESCE(sc.n_distinct_chars, 0) AS n_distinct_chars,
        |   COALESCE(sc.char_entropy, CAST(0 AS DOUBLE)) AS char_entropy
        | FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin,

    "text_term_burstiness" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' '))
         |     AS term FROM documents),
         | cells AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS c
         |   FROM tok GROUP BY 1, 2),
         | n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
         | t AS (SELECT term,
         |     CAST(COUNT(*) AS BIGINT) AS n_docs_containing,
         |     CAST(SUM(c) AS BIGINT) AS total,
         |     CAST(SUM(c * c) AS BIGINT) AS ss
         |   FROM cells GROUP BY term HAVING SUM(c) >= $BurstMinCount)
         | SELECT term, n_docs_containing, total,
         |   round(CAST(n_docs * ss - total * total AS DOUBLE)
         |     / (n_docs * total), 6) AS burstiness
         | FROM t CROSS JOIN n
         | ORDER BY burstiness DESC, term ASC LIMIT $BurstTopN""".stripMargin,

    "text_novelty_probe" ->
      s"""WITH bt AS (SELECT doc_id, string_split(text, ' ') AS t
         |   FROM documents WHERE doc_id % ${Dedup.IncomingMod} <> 0),
         | bg AS (SELECT DISTINCT unnest(list_transform(
         |     range(len(t) - ${NoveltyN - 1}),
         |     i -> array_to_string(t[i + 1 : i + $NoveltyN], ' '))) AS gram
         |   FROM bt WHERE len(t) >= $NoveltyN),
         | it AS (SELECT doc_id, string_split(text, ' ') AS t
         |   FROM documents WHERE doc_id % ${Dedup.IncomingMod} = 0),
         | ig AS (SELECT doc_id, unnest(list_transform(
         |     range(len(t) - ${NoveltyN - 1}),
         |     i -> array_to_string(t[i + 1 : i + $NoveltyN], ' '))) AS gram
         |   FROM it WHERE len(t) >= $NoveltyN),
         | ic AS (SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS cnt
         |   FROM ig GROUP BY 1, 2),
         | j AS (SELECT ic.doc_id, ic.cnt, bg.gram IS NOT NULL AS seen
         |   FROM ic LEFT JOIN bg USING (gram))
         | SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_grams,
         |   CAST(SUM(CASE WHEN seen THEN cnt ELSE 0 END) AS BIGINT) AS n_seen,
         |   round(1.0 - CAST(SUM(CASE WHEN seen THEN cnt ELSE 0 END)
         |     AS DOUBLE) / SUM(cnt), 6) AS novelty
         | FROM j GROUP BY doc_id""".stripMargin,

    "text_quality_classifier" ->
      s"""WITH ${classifierSqlWith()}
         | SELECT doc_id, n_tokens, logit,
         |   CAST(1 AS DOUBLE) / (1 + exp(-logit)) AS clf_score,
         |   logit >= 0 AS keep FROM clf""".stripMargin,

    "text_bigram_surprisal" -> bigramSurprisalSql("", ""),

    "text_bigram_probe" -> bigramSurprisalSql(
      s"WHERE doc_id % ${Dedup.IncomingMod} <> 0",
      s"WHERE doc_id % ${Dedup.IncomingMod} = 0"),

    "text_surprisal_probe" ->
      s"""WITH tf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS freq
         |   FROM (SELECT unnest(string_split(text, ' ')) AS term
         |     FROM documents WHERE doc_id % ${Dedup.IncomingMod} <> 0)
         |   GROUP BY term),
         | tot AS (SELECT CAST(SUM(freq) AS BIGINT) AS total FROM tf),
         | tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |   FROM documents WHERE doc_id % ${Dedup.IncomingMod} = 0),
         | nll AS (SELECT tk.doc_id,
         |     ln(CAST(tot.total AS DOUBLE) + 0.5)
         |       - ln(CAST(COALESCE(tf.freq, 0) AS DOUBLE) + 0.5) AS nll
         |   FROM tk LEFT JOIN tf USING (term) CROSS JOIN tot),
         | d AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |     AVG(nll) AS cross_entropy FROM nll GROUP BY doc_id)
         | SELECT doc_id, n_tokens, cross_entropy,
         |   exp(cross_entropy) AS perplexity FROM d""".stripMargin,

    "text_unigram_surprisal" -> unigramSurprisalSql,

    "text_bm25_search" -> bm25Sql,

    // reuses the bm25 pipeline verbatim (nested CTE) so the lexical leg
    // cannot drift from the text_bm25_search oracle
    "text_hybrid_rrf" ->
      s"""WITH bm AS ($bm25Sql),
         | lex AS (SELECT doc_id, round(bm25_score, 6) AS s FROM bm
         |   ORDER BY s DESC, doc_id ASC LIMIT $RrfDepth),
         | lexr AS (SELECT doc_id,
         |     row_number() OVER (ORDER BY s DESC, doc_id ASC) AS bm25_rank
         |   FROM lex),
         | td AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS t
         |   FROM documents),
         | ji AS (SELECT doc_id,
         |     CAST(len(list_intersect(t, ${Bm25Query.map(w => s"'$w'")
              .mkString("[", ", ", "]")})) AS BIGINT) AS inter,
         |     CAST(len(t) AS BIGINT) AS nt FROM td),
         | jt AS (SELECT doc_id,
         |     CAST(inter AS DOUBLE) / (nt + ${Bm25Query.size} - inter) AS j
         |   FROM ji WHERE inter > 0
         |   ORDER BY j DESC, doc_id ASC LIMIT $RrfDepth),
         | jr AS (SELECT doc_id,
         |     row_number() OVER (ORDER BY j DESC, doc_id ASC) AS jaccard_rank
         |   FROM jt)
         | SELECT COALESCE(l.doc_id, r.doc_id) AS doc_id,
         |   COALESCE(CAST(1 AS DOUBLE) / (l.bm25_rank + $RrfK), CAST(0 AS DOUBLE))
         |     + COALESCE(CAST(1 AS DOUBLE) / (r.jaccard_rank + $RrfK), CAST(0 AS DOUBLE))
         |     AS rrf_score,
         |   l.bm25_rank, r.jaccard_rank
         | FROM lexr l FULL OUTER JOIN jr r ON l.doc_id = r.doc_id
         | ORDER BY rrf_score DESC, doc_id ASC LIMIT $RrfTopK""".stripMargin,

    "text_vocab_coverage" ->
      s"""WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |   FROM documents),
         | vocab AS (SELECT term FROM (
         |     SELECT term, COUNT(*) AS freq FROM tk GROUP BY 1)
         |   ORDER BY freq DESC, term ASC LIMIT $VocabSize),
         | j AS (SELECT tk.doc_id,
         |     CASE WHEN v.term IS NULL THEN 1 ELSE 0 END AS oov
         |   FROM tk LEFT JOIN vocab v ON tk.term = v.term)
         | SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |   CAST(SUM(oov) AS BIGINT) AS n_oov,
         |   CAST(SUM(oov) AS DOUBLE) / COUNT(*) AS oov_rate
         | FROM j GROUP BY doc_id""".stripMargin,

    "text_zipf" ->
      s"""WITH tf AS (SELECT term, COUNT(*) AS freq
         |   FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
         |   GROUP BY 1),
         | top AS (SELECT freq,
         |     ROW_NUMBER() OVER (ORDER BY freq DESC, term ASC) AS rank
         |   FROM tf ORDER BY freq DESC, term ASC LIMIT $ZipfTerms),
         | s AS (SELECT COUNT(*) AS n_fit,
         |     SUM(ln(CAST(rank AS DOUBLE))) AS sx,
         |     SUM(ln(CAST(freq AS DOUBLE))) AS sy,
         |     SUM(ln(CAST(rank AS DOUBLE)) * ln(CAST(rank AS DOUBLE))) AS sxx,
         |     SUM(ln(CAST(rank AS DOUBLE)) * ln(CAST(freq AS DOUBLE))) AS sxy,
         |     SUM(ln(CAST(freq AS DOUBLE)) * ln(CAST(freq AS DOUBLE))) AS syy
         |   FROM top),
         | t AS (SELECT COUNT(*) AS n_terms FROM tf)
         | SELECT CAST(t.n_terms AS BIGINT) AS n_terms,
         |   CAST(s.n_fit AS BIGINT) AS n_fit,
         |   (s.n_fit * s.sxy - s.sx * s.sy) / (s.n_fit * s.sxx - s.sx * s.sx)
         |     AS slope,
         |   (s.sy - (s.n_fit * s.sxy - s.sx * s.sy)
         |     / (s.n_fit * s.sxx - s.sx * s.sx) * s.sx) / s.n_fit AS intercept,
         |   (s.n_fit * s.sxy - s.sx * s.sy) * (s.n_fit * s.sxy - s.sx * s.sy)
         |     / ((s.n_fit * s.sxx - s.sx * s.sx)
         |        * (s.n_fit * s.syy - s.sy * s.sy)) AS r2
         | FROM s CROSS JOIN t""".stripMargin,

    "text_top_terms" ->
      s"""WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |   FROM documents),
         | tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
         | dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         | n AS (SELECT COUNT(*) AS n_docs FROM documents)
         | SELECT doc_id, term, CAST(rank AS INTEGER) AS rank,
         |   CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, salience
         | FROM (SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         |     CAST(tf.tf * n.n_docs AS DOUBLE) / dfreq.df AS salience,
         |     ROW_NUMBER() OVER (PARTITION BY tf.doc_id
         |       ORDER BY CAST(tf.tf * n.n_docs AS DOUBLE) / dfreq.df DESC,
         |                tf.term ASC) AS rank
         |   FROM tf JOIN dfreq USING (term) CROSS JOIN n)
         | WHERE rank <= $TopTermsPerDoc""".stripMargin,
    "text_repetition" ->
      s"""WITH $repetitionSqlWith
         | SELECT doc_id, dup_token_frac, top_bigram_frac, dup_trigram_frac,
         |   repetitive
         | FROM rrep""".stripMargin,

    "text_repetition_probe" ->
      s"""WITH raug AS (SELECT doc_id,
         |   repeat(concat_ws(' ', t[1], t[2]) || ' ', 29)
         |     || concat_ws(' ', t[1], t[2]) AS text
         |   FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) z),
         | ${repetitionSqlWith("raug")}
         | SELECT doc_id, dup_token_frac, top_bigram_frac, dup_trigram_frac,
         |   repetitive
         | FROM rrep""".stripMargin,

    "text_token_stats" ->
      s"""SELECT doc_id,
         | CAST(length(text) AS BIGINT) AS n_chars,
         | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         | CAST(len(regexp_extract_all(text, '$SubtokenPattern')) AS BIGINT) AS n_subtokens,
         | CAST(length(regexp_replace(text, ' ', '', 'g')) AS DOUBLE)
         |   / len(string_split(text, ' ')) AS avg_token_chars
         | FROM documents""".stripMargin,

    "text_dense_search" -> denseSearchSql,

    "text_hash_embedding" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |   FROM documents),
         | s AS (SELECT doc_id,
         |     ${Dedup.h32SqlOf("'hemb:' || term")} % $HashEmbDim AS dim,
         |     CASE WHEN ${Dedup.h32SqlOf("'hsgn:' || term")} % 2 = 0
         |       THEN 1 ELSE -1 END AS sgn
         |   FROM tok),
         | a AS (SELECT doc_id, dim, CAST(SUM(sgn) AS BIGINT) AS weight_raw
         |   FROM s GROUP BY 1, 2),
         | n AS (SELECT doc_id,
         |     CAST(SUM(weight_raw * weight_raw) AS BIGINT) AS ss
         |   FROM a GROUP BY 1)
         | SELECT a.doc_id, a.dim, a.weight_raw,
         |   CASE WHEN n.ss = 0 THEN CAST(0 AS DOUBLE)
         |        ELSE CAST(a.weight_raw AS DOUBLE) / sqrt(CAST(n.ss AS DOUBLE))
         |   END AS weight
         | FROM a JOIN n ON n.doc_id = a.doc_id""".stripMargin,

    "text_readability" ->
      s"""WITH c AS (SELECT doc_id,
         |     CAST(len(string_split(text, ' ')) AS DOUBLE) AS w,
         |     CAST(GREATEST(len(regexp_extract_all(text, '$SentenceRe')), 1) AS DOUBLE) AS s,
         |     GREATEST(CAST(len(regexp_extract_all(lower(text), '$VowelRunRe')) AS DOUBLE),
         |              CAST(len(string_split(text, ' ')) AS DOUBLE)) AS y
         |   FROM documents)
         | SELECT doc_id, CAST(w AS BIGINT) AS n_words, CAST(s AS BIGINT) AS n_sentences,
         |   CAST(y AS BIGINT) AS n_syllables,
         |   206.835 - 1.015 * (w / s) - 84.6 * (y / w) AS flesch_ease,
         |   0.39 * (w / s) + 11.8 * (y / w) - 15.59 AS fk_grade
         | FROM c""".stripMargin,

    "text_lang_id" ->
      s"""WITH tk AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
         | sc AS (SELECT doc_id,
         |   ${LangProfiles.map { case (l, ws) => scoreSql(l, ws) }.mkString(",\n |   ")}
         |   FROM tk),
         | mx AS (SELECT *, GREATEST(s_en, s_de, s_es, s_fr, s_zh) AS m FROM sc)
         | SELECT doc_id,
         |   CASE WHEN m = 0 THEN 'und'
         |        WHEN s_en = m THEN 'en' WHEN s_de = m THEN 'de'
         |        WHEN s_es = m THEN 'es' WHEN s_fr = m THEN 'fr'
         |        ELSE 'zh' END AS lang_pred,
         |   CAST(m AS BIGINT) AS best_score
         | FROM mx""".stripMargin,

    "text_lang_confusion" ->
      s"""WITH tk AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
         | sc AS (SELECT doc_id,
         |   ${LangProfiles.map { case (l, ws) => scoreSql(l, ws) }.mkString(",\n |   ")}
         |   FROM tk),
         | mx AS (SELECT *, GREATEST(s_en, s_de, s_es, s_fr, s_zh) AS m FROM sc),
         | p AS (SELECT doc_id,
         |   CASE WHEN m = 0 THEN 'und'
         |        WHEN s_en = m THEN 'en' WHEN s_de = m THEN 'de'
         |        WHEN s_es = m THEN 'es' WHEN s_fr = m THEN 'fr'
         |        ELSE 'zh' END AS lang_pred
         |   FROM mx),
         | cm AS (SELECT d.lang, p.lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs
         |   FROM p JOIN documents d ON d.doc_id = p.doc_id
         |   GROUP BY 1, 2)
         | SELECT lang, lang_pred, n_docs,
         |   CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER (PARTITION BY lang)
         |     AS share_of_lang
         | FROM cm""".stripMargin,

    "text_lang_probe" ->
      s"""WITH aug AS (SELECT doc_id, lang,
         |   (CASE ${LangProfiles.map { case (l, ws) =>
                s"WHEN lang = '$l' THEN '${Seq.fill(LangProbeRepeat)(ws).flatten.mkString(" ")}'"
              }.mkString("\n |        ")}
         |    ELSE '' END) || ' ' || text AS text
         | FROM documents),
         | tk AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS t FROM aug),
         | sc AS (SELECT doc_id, lang,
         |   ${LangProfiles.map { case (l, ws) => scoreSql(l, ws) }.mkString(",\n |   ")}
         |   FROM tk),
         | mx AS (SELECT *, GREATEST(s_en, s_de, s_es, s_fr, s_zh) AS m FROM sc),
         | pr AS (SELECT doc_id, lang,
         |   CASE WHEN m = 0 THEN 'und'
         |        WHEN s_en = m THEN 'en' WHEN s_de = m THEN 'de'
         |        WHEN s_es = m THEN 'es' WHEN s_fr = m THEN 'fr'
         |        ELSE 'zh' END AS lang_pred
         |   FROM mx)
         | SELECT doc_id, lang, lang_pred, lang_pred = lang AS recovered
         | FROM pr""".stripMargin,

    "text_quality" ->
      s"""WITH $qualityScoreSqlWith
         | SELECT doc_id, punct_ratio, stopword_ratio, quality_score
         | FROM qscore""".stripMargin,

    "text_quality_deciles" ->
      s"""WITH $qualityScoreSqlWith,
         | q AS (SELECT doc_id, quality_score AS qs FROM qscore),
         | th AS (SELECT quantile_cont(qs,
         |   [${DecileQs.mkString(", ")}]) AS ths FROM q)
         | SELECT q.doc_id, q.qs,
         |   CAST(len(list_filter(th.ths,
         |     t -> floor(q.qs * 1000000) >= floor(t * 1000000)))
         |     AS INTEGER) AS decile
         | FROM q, th""".stripMargin,

    "text_ngram_freq" ->
      s"""WITH toks AS (SELECT doc_id, lower(text) AS lt,
         |   string_split(lower(text), ' ') AS t FROM documents),
         | sh AS (SELECT doc_id, CASE WHEN len(t) >= ${Dedup.ShingleSize}
         |   THEN list_distinct(list_transform(range(len(t) - ${Dedup.ShingleSize - 1}),
         |        i -> array_to_string(t[i + 1 : i + ${Dedup.ShingleSize}], ' ')))
         |   ELSE [lt] END AS sh FROM toks),
         | g AS (SELECT unnest(sh) AS ngram FROM sh)
         | SELECT ngram, CAST(COUNT(*) AS BIGINT) AS freq FROM g GROUP BY ngram
         | ORDER BY freq DESC, ngram ASC LIMIT $TopNgrams""".stripMargin,

    // the sketch is a no-false-negative candidate pass in front of an
    // exact recount, so the heavy-hitter relation is the naive exact one
    "text_heavy_hitters" ->
      s"""WITH tk AS (SELECT unnest(string_split(lower(text), ' ')) AS term
         |   FROM documents),
         | c AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS freq FROM tk GROUP BY 1),
         | n AS (SELECT CAST(SUM(freq) AS BIGINT) AS n_tok FROM c)
         | SELECT term, freq, n_tok FROM c CROSS JOIN n
         | WHERE freq * $HeavyDenom > n_tok""".stripMargin,

    "text_heavy_probe" ->
      s"""WITH d2 AS (SELECT text FROM documents
         |   UNION ALL SELECT repeat('hh ', $HeavyPlantReps) AS text),
         | tk AS (SELECT unnest(string_split(lower(text), ' ')) AS term FROM d2),
         | c AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS freq FROM tk GROUP BY 1),
         | n AS (SELECT CAST(SUM(freq) AS BIGINT) AS n_tok FROM c)
         | SELECT term, freq, n_tok FROM c CROSS JOIN n
         | WHERE freq * $HeavyProbeDenom > n_tok""".stripMargin,

    "text_collocations" ->
      s"""WITH toks AS (SELECT string_split(lower(text), ' ') AS t FROM documents),
         | uni AS (SELECT unnest(t) AS w FROM toks),
         | nw AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_w FROM uni GROUP BY 1),
         | tot AS (SELECT CAST(SUM(n_w) AS BIGINT) AS n_tok FROM nw),
         | pr AS (SELECT unnest(CASE WHEN len(t) >= 2
         |   THEN list_transform(range(len(t) - 1), i -> t[i + 1] || ' ' || t[i + 2])
         |   ELSE []::VARCHAR[] END) AS pair FROM toks),
         | np0 AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS n_xy FROM pr
         |   GROUP BY pair HAVING COUNT(*) >= $CollocMinCount),
         | np AS (SELECT string_split(pair, ' ')[1] AS w1,
         |     string_split(pair, ' ')[2] AS w2, n_xy FROM np0)
         | SELECT np.w1, np.w2, np.n_xy, a.n_w AS n_x, b.n_w AS n_y,
         |   CAST(np.n_xy * tot.n_tok AS DOUBLE) / (a.n_w * b.n_w) AS lift
         | FROM np JOIN nw a ON a.w = np.w1 JOIN nw b ON b.w = np.w2
         |   CROSS JOIN tot
         | ORDER BY lift DESC, w1 ASC, w2 ASC LIMIT $CollocTopN""".stripMargin,

    "text_bpe_pairs" ->
      s"""WITH toks AS (SELECT string_split(lower(text), ' ') AS t FROM documents),
         | p AS (SELECT unnest(CASE WHEN len(t) >= 2
         |   THEN list_transform(range(len(t) - 1), i -> t[i + 1] || ' ' || t[i + 2])
         |   ELSE []::VARCHAR[] END) AS pair FROM toks)
         | SELECT pair, CAST(COUNT(*) AS BIGINT) AS freq FROM p GROUP BY pair
         | ORDER BY freq DESC, pair ASC LIMIT $TopPairs""".stripMargin,

    "text_bpe_merges" ->
      s"""WITH $bpeOracleCtes,
         | m AS (${(1 to BpeMergeRounds)
             .map(r => s"SELECT CAST($r AS INTEGER) AS merge_round, pair, freq FROM b$r")
             .mkString(" UNION ALL ")})
         | SELECT merge_round, replace(pair, $BpeOracleSep, ' ') AS pair, freq,
         |   replace(pair, $BpeOracleSep, '_') AS new_token FROM m""".stripMargin,

    "text_bpe_compression_curve" ->
      s"""WITH $bpeOracleCtes,
         | c AS (${(0 to BpeMergeRounds).map(r =>
             s"""SELECT CAST($r AS INTEGER) AS merge_round,
                | CAST(SUM(len(string_split(s[2 : len(s) - 1], $BpeOracleSep)))
                |   AS BIGINT) AS corpus_tokens FROM s$r""".stripMargin)
           .mkString(" UNION ALL ")}),
         | t0 AS (SELECT corpus_tokens AS t0 FROM c WHERE merge_round = 0)
         | SELECT merge_round, corpus_tokens,
         |   round(CAST(corpus_tokens AS DOUBLE) / t0, 6) AS compression
         | FROM c CROSS JOIN t0""".stripMargin,

    "text_bpe_encode" ->
      s"""WITH $bpeOracleCtes,
         | f AS (SELECT doc_id, s,
         |   string_split(s[2 : len(s) - 1], $BpeOracleSep) AS t
         |  FROM s$BpeMergeRounds)
         | SELECT doc_id,
         |   replace(s[2 : len(s) - 1], $BpeOracleSep, ' ') AS encoded,
         |   CAST(len(t) AS INTEGER) AS n_tokens,
         |   CAST(len(t) + length(s) - length(replace(s, '_', ''))
         |     AS INTEGER) AS n_words
         | FROM f""".stripMargin,

    "text_bpe_fertility" ->
      s"""WITH $bpeOracleCtes,
         | f AS (SELECT doc_id, s,
         |   string_split(s[2 : len(s) - 1], $BpeOracleSep) AS t
         |  FROM s$BpeMergeRounds),
         | pd AS (SELECT doc_id, len(t) AS n_tokens,
         |   len(t) + length(s) - length(replace(s, '_', '')) AS n_words
         |  FROM f)
         | SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |   CAST(SUM(pd.n_tokens) AS BIGINT) AS n_tokens,
         |   CAST(SUM(pd.n_words) AS BIGINT) AS n_words,
         |   CAST(SUM(pd.n_tokens) AS DOUBLE) / SUM(pd.n_words) AS fertility
         | FROM pd JOIN documents d ON d.doc_id = pd.doc_id
         | GROUP BY d.lang""".stripMargin,

    "text_bpe_vocab" ->
      s"""WITH $bpeOracleCtes,
         | v AS (SELECT unnest(string_split(s[2 : len(s) - 1], $BpeOracleSep))
         |     AS token
         |  FROM s$BpeMergeRounds)
         | SELECT token, CAST(COUNT(*) AS BIGINT) AS freq,
         |   CAST(length(token) - length(replace(token, '_', '')) + 1
         |     AS INTEGER) AS n_words
         | FROM v GROUP BY token""".stripMargin,

    "text_pii_scan" ->
      s"""SELECT doc_id,
         |   n_emails, n_ids, n_ipv4, n_phones,
         |   n_emails + n_ids + n_ipv4 + n_phones AS n_pii
         | FROM (SELECT doc_id,
         |   CAST(len(regexp_extract_all(text, '$PiiEmailRe')) AS INTEGER) AS n_emails,
         |   CAST(len(regexp_extract_all(text, '$PiiIdRe')) AS INTEGER) AS n_ids,
         |   CAST(len(regexp_extract_all(text, '$PiiIpv4Re')) AS INTEGER) AS n_ipv4,
         |   CAST(len(regexp_extract_all(text, '$PiiPhoneRe')) AS INTEGER) AS n_phones
         | FROM documents) c""".stripMargin,

    "text_pii_redact" ->
      s"""SELECT doc_id,
         |   regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
         |     '$PiiEmailRe', '<EMAIL>', 'g'),
         |     '$PiiIdRe', '<ID>', 'g'),
         |     '$PiiIpv4Re', '<IP>', 'g'),
         |     '$PiiPhoneRe', '<PHONE>', 'g') AS text
         | FROM documents""".stripMargin,

    "text_pii_probe" ->
      s"""WITH aug AS (SELECT doc_id,
         |   'user' || CAST(doc_id AS VARCHAR) || '@example.com' || ' ' ||
         |   '123-45-6789' || ' ' || '10.0.0.1' || ' ' ||
         |   '+1 415-555-0' || lpad(CAST(doc_id % 100 AS VARCHAR), 3, '0') ||
         |   ' ' || text AS text
         | FROM documents)
         | SELECT doc_id,
         |   n_emails, n_ids, n_ipv4, n_phones,
         |   n_emails + n_ids + n_ipv4 + n_phones AS n_pii,
         |   redacted_chars
         | FROM (SELECT doc_id,
         |   CAST(len(regexp_extract_all(text, '$PiiEmailRe')) AS INTEGER) AS n_emails,
         |   CAST(len(regexp_extract_all(text, '$PiiIdRe')) AS INTEGER) AS n_ids,
         |   CAST(len(regexp_extract_all(text, '$PiiIpv4Re')) AS INTEGER) AS n_ipv4,
         |   CAST(len(regexp_extract_all(text, '$PiiPhoneRe')) AS INTEGER) AS n_phones,
         |   CAST(length(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
         |     '$PiiEmailRe', '<EMAIL>', 'g'),
         |     '$PiiIdRe', '<ID>', 'g'),
         |     '$PiiIpv4Re', '<IP>', 'g'),
         |     '$PiiPhoneRe', '<PHONE>', 'g')) AS INTEGER) AS redacted_chars
         | FROM aug) c""".stripMargin,

    "text_fingerprint" ->
      s"""WITH n AS (SELECT doc_id,
         |   regexp_replace(lower(text), '\\s+', ' ', 'g') AS norm,
         |   string_split(lower(text), ' ') AS t, lower(text) AS lt
         |  FROM documents),
         | sh AS (SELECT doc_id, norm, CASE WHEN len(t) >= ${Dedup.ShingleSize}
         |   THEN list_distinct(list_transform(range(len(t) - ${Dedup.ShingleSize - 1}),
         |        i -> array_to_string(t[i + 1 : i + ${Dedup.ShingleSize}], ' ')))
         |   ELSE [lt] END AS sh FROM n)
         | SELECT doc_id,
         |   ('0x' || substring(md5(norm), 1, 8))::BIGINT AS content_fp,
         |   list_min(list_transform(sh,
         |     s -> ('0x' || substring(md5(s), 1, 8))::BIGINT)) AS min_shingle_fp
         | FROM sh""".stripMargin,
  )
}
