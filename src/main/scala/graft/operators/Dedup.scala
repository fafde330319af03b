package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Artifacts, Staging}
import graft.functions.{MinHashSeeds, MinHashSignatures, SimHash60}
import graft.sources.Tables

/** Document deduplication operators over the `documents` table — the
  * large-scale training-data-pipeline extension surface (the reference has
  * no dedup; SURVEY.md §2.2 "not have" list).
  *
  * Core design (rounds 2-4):
  *
  *   - '''Portable hash family''': every hash is derived from
  *     `md5(s)[0,8)` parsed as an integer, then spread through a universal
  *     hash `(a_i·h + b_i) mod (2^31-1)` with literal per-seed constants —
  *     bit-for-bit reproducible in DuckDB (`('0x'||substring(md5(s),1,8))
  *     ::BIGINT`), so MinHash+LSH and SimHash now have FULL DuckDB oracles
  *     instead of rows-only checks. One md5 per shingle; the 128 seeds are
  *     arithmetic on that one value (not 128 re-hashes).
  *   - '''Exact-duplicate pre-collapse''': near-dup detection runs over one
  *     representative per distinct content (min doc_id per md5(text)), and
  *     results map back to all copies. On a realistic dup-heavy corpus this
  *     is what keeps LSH buckets small — a million identical documents are
  *     one LSH vertex, not a quadratic bucket (fixes ADVICE r1's
  *     `MaxShingleDf` blind spot: heavy exact-dup clusters no longer lose
  *     their candidates to frequency caps).
  *   - '''Band-bucket caps''' (`MaxBandBucket`): an LSH band bucket with
  *     more than this many *distinct contents* generates no pairs — the
  *     same skew guard the shingle index always had (`MaxShingleDf`),
  *     bounding the self-join fan-out at any scale. Documented recall
  *     trade-off, mirrored exactly in the oracle.
  *   - '''True clusters''': `cluster_id` is a transitive-closure component
  *     label ([[ConnectedComponents.minLabel]]), not the round-1 single-hop
  *     min-neighbor; the oracle reproduces it with a recursive CTE.
  *
  * All column-level math is `org.apache.spark.sql.functions` expressions
  * or native codegen'd Catalyst expressions — no UDFs. The hot per-row
  * loops (MinHash signatures, SimHash votes) are map-only projections
  * through [[MinHashSignatures]]/[[SimHash60]] (round 4; the round-3
  * explode + wide-hash-aggregate shape paid an exchange per doc for a pure
  * per-row function). Higher-order array folds (CodegenFallback:
  * interpreted) survive only where they touch candidate pairs, not the
  * whole corpus.
  */
object Dedup {

  val ShingleSize = 3
  val NumHashes: Int = MinHashSignatures.NumHashes // 128
  val Bands = 16 // x 8 rows per band
  val RowsPerBand: Int = NumHashes / Bands
  val JaccardThreshold = 0.7
  val SimhashBits: Int = SimHash60.Bits // 60
  val SimhashBands = 4 // any pair within Hamming distance 3 shares >= 1 band
  val SimhashBandBits: Int = SimhashBits / SimhashBands // 15 -> 32768 buckets/band
  val SimhashHammingMax = 3
  /** Shingles seen in more than this many distinct contents generate no
    * candidate pairs (inverted-index skew guard). */
  val MaxShingleDf = 50
  /** LSH band buckets with more than this many distinct contents generate
    * no candidate pairs (band-join skew guard; VERDICT r1). */
  val MaxBandBucket = 64
  /** Signature-agreement pre-filter: candidates whose MinHash signatures
    * agree on fewer than this many of the 128 positions skip the exact
    * verify (77/128 ≈ 0.60, ~2.5σ below the 0.7 threshold with 128
    * hashes). Deterministic — both engines compute identical signatures —
    * and it keeps the expensive shingle-set intersection off the
    * medium-similarity candidate mass. */
  val MinSigMatches = 77

  /** 2^31-1: the universal-hash modulus (fits 64-bit signed arithmetic:
    * a·h < 2^62). Source of truth: [[MinHashSeeds]], shared with
    * the native signature expression. */
  val P: Long = MinHashSeeds.P

  /** Deterministic universal-hash constants, embedded as literals on BOTH
    * engines (the Scala arrays are interpolated into the oracle SQL). */
  def seedA(i: Int): Long = MinHashSeeds.a(i)
  def seedB(i: Int): Long = MinHashSeeds.b(i)

  // ---- portable base hashes ------------------------------------------------

  /** First 8 hex chars of md5 as a non-negative int64 in [0, 2^32). */
  def h32(s: Column): Column =
    conv(substring(md5(s.cast("binary")), 1, 8), 16, 10).cast("long")

  /** DuckDB mirror of [[h32]]; package-visible for [[Corpus]]'s oracles. */
  private[operators] def h32SqlOf(s: String) = s"('0x' || substring(md5($s), 1, 8))::BIGINT"
  private val h32Sql = (s: String) => h32SqlOf(s)

  /** DuckDB mirror of [[MinHashSeeds.h60]] (15 hex chars → [0, 2^60)). */
  private def h60Sql(s: String) = s"('0x' || substring(md5($s), 1, 15))::BIGINT"

  /** Distinct hashed word k-shingles: the Jaccard domain for every fuzzy
    * operator. Hashing the shingles to int64 before any join/intersect
    * keeps the shuffles and set-intersections on fixed-width longs instead
    * of strings — the standard large-scale dedup shape (hash collisions
    * merely merge two shingles; with |shingles| ≪ 2^31 per doc the effect
    * on Jaccard is negligible and, being deterministic, it is mirrored
    * exactly by the oracle). */
  def hashedShingles(text: Column): Column = hashedShingles(text, ShingleSize)

  /** Parametric variant (see [[wordShingles]]). Round 6: one native
    * codegen'd call ([[graft.functions.HashedShingles]]) instead of the
    * interpreted `array_distinct(transform(wordShingles, h32 % P))` HOF
    * tree — identical values, so every oracle below is unchanged. */
  def hashedShingles(text: Column, k: Int): Column =
    graft.functions.HashedShingles.of(text, k)

  /** Distinct word k-shingles; docs shorter than k fall back to the whole
    * text as a single shingle. */
  def wordShingles(text: Column): Column = wordShingles(text, ShingleSize)

  /** Parametric variant: [[Corpus.decontaminate]] uses longer shingles
    * (accidental k-gram collisions must be rarer than for near-dup
    * candidate generation). */
  def wordShingles(text: Column, k: Int): Column =
    wordShinglesOf(text, split(text, " "), k)

  /** [[wordShingles]] over an already-PROJECTED token-array column — the
    * form hot paths must use: a lambda body referencing a computed array
    * re-evaluates it per element (HOFs are interpreted — the
    * [[graft.operators.TextAnalysis.collocations]] r17 lambda note), so
    * the k get()s per shingle re-split the text k times per position
    * unless `toks` is an attribute. `text` must be the SAME string the
    * tokens came from (the under-k fallback). */
  def wordShinglesOf(text: Column, toks: Column, k: Int = ShingleSize): Column =
    when(size(toks) >= k,
      array_distinct(transform(
        sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", (0 until k).map(j => get(toks, i + j)): _*))))
      .otherwise(array(text))

  /** Exact dedup: group by sha256(text). Emits one row per distinct content
    * with the smallest doc_id as keeper. */
  def exact(documents: DataFrame): DataFrame =
    documents
      .groupBy(sha2(col("text"), 256).as("content_sha"))
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))

  /** Exact-dedup recovery probe: the synthetic corpus contains ZERO
    * duplicate contents (every `dedup_exact` group is a singleton at the
    * oracle), so the collapse/keeper logic never fires there. Each run of
    * [[ExactProbeGroup]] consecutive doc_ids is remapped ON BOTH ENGINES
    * to its group leader's text, so the probe must collapse the corpus
    * [[ExactProbeGroup]]-fold with min-id keepers. */
  val ExactProbeGroup = 5

  def exactProbe(documents: DataFrame): DataFrame = {
    val leaders = documents.select(col("doc_id").as("src_id"), col("text"))
    exact(documents
      .select(col("doc_id"),
        (col("doc_id") - pmod(col("doc_id"), lit(ExactProbeGroup))).as("src_id"))
      .join(leaders, "src_id")
      .select(col("doc_id"), col("text")))
  }

  // ---- exact-dup pre-collapse ----------------------------------------------

  /** (doc_id, rep) for every document: rep = min doc_id among identical
    * contents. Shuffles a 32-char digest per doc, never bodies.
    * Package-visible: [[Corpus.clean]] reuses the same digest convention. */
  private[operators] def docReps(documents: DataFrame): DataFrame = {
    val shas = documents.select(col("doc_id"), md5(col("text").cast("binary")).as("sha"))
    val reps = shas.groupBy("sha").agg(min("doc_id").as("rep"))
    shas.join(reps, "sha").select("doc_id", "rep")
  }

  /** One representative row (doc_id = rep, text) per distinct content.
    * `dr` is the (doc_id, rep) map from [[docReps]] — computed once per
    * query and shared with [[expandClusters]] (round 4: it was recomputed
    * 2-3x per query, an md5 scan + two shuffles each time). The input is
    * already spread to full parallelism at the scan ([[Tables.spread]] on
    * the raw documents — spreading the join output instead forced AQE to
    * materialize its stages just to read the partition count). */
  private def repDocs(documents: DataFrame, dr: DataFrame): DataFrame =
    documents.join(dr.where(col("doc_id") === col("rep")).select("doc_id"), "doc_id")
      .select(col("doc_id"), col("text"))

  /** Map per-representative components back to every copy and attach the
    * cluster size: (doc_id, cluster_id, n_dups = cluster size - 1). */
  private def expandClusters(dr: DataFrame, components: DataFrame): DataFrame = {
    val labeled = dr.join(components.withColumnRenamed("id", "rep"), Seq("rep"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("rep")).as("cluster_id"))
    val sizes = labeled.groupBy("cluster_id").agg(count(lit(1)).as("sz"))
    labeled.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), (col("sz") - 1).as("n_dups"))
  }

  /** Frequency-capped candidate pairs from banded keys (band, bkey, doc_id):
    * only buckets holding 2..[[MaxBandBucket]] distinct contents pair up.
    * Package-visible so the stress spec can assert the cap bound directly. */
  private[operators] def cappedBandPairs(bands: DataFrame): DataFrame = {
    val ok = bands.groupBy("band", "bkey").agg(count(lit(1)).as("bsz"))
      .where(col("bsz").between(2, MaxBandBucket)).select("band", "bkey")
    val in2 = bands.join(ok, Seq("band", "bkey"))
    in2.select(col("band"), col("bkey"), col("doc_id").as("a"))
      .join(in2.select(col("band"), col("bkey"), col("doc_id").as("b")),
        Seq("band", "bkey"))
      .where(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  // ---- MinHash + LSH -------------------------------------------------------

  /** MinHash signatures for a (doc_id, sh) frame: sig_i = min over sh of
    * (a_i·h + b_i) mod P, i in [0, [[NumHashes]]).
    *
    * Round-4 shape: a map-only projection through the native
    * [[MinHashSignatures]] expression (whole-stage codegen'd
    * multiply-add-mod-min loop). The round-3 explode + 128-column min
    * aggregate still paid an exchange carrying one 128-value row per doc
    * plus a hash aggregate over O(docs × shingles) exploded rows;
    * signatures are per-row pure functions, so the right plan at any scale
    * is no exchange at all. Values are bit-for-bit identical — the DuckDB
    * oracle (unnest + GROUP BY min) is unchanged. */
  def minhashSignatures(hashed: DataFrame): DataFrame =
    hashed.select(col("doc_id"),
      MinHashSignatures.of(col("sh")).as("sig"))

  /** 16 banded keys: fold each 8-value slice with seed = band index. */
  def bandKeys(sig: Column): Column =
    transform(sequence(lit(0), lit(Bands - 1)),
      j => aggregate(slice(sig, j * RowsPerBand + 1, lit(RowsPerBand)),
        j.cast("long"), (acc, v) => (acc * 31L + v) % P))

  /** MinHash+LSH near-dup clustering, exact-dup pre-collapsed, band-capped,
    * exact-Jaccard verified, transitively closed. One row per document:
    * (doc_id, cluster_id, n_dups). */
  def minhashLsh(documents: DataFrame): DataFrame = {
    val docs = Tables.spread(documents)
    val dr = Staging.stage(docReps(docs))
    val (withSig, bands) = signaturePipeline(repDocs(docs, dr))
    minhashLshFrom(dr, withSig, bands)
  }

  /** [[minhashLsh]] core over prebuilt dedup-map/signature/band frames —
    * the face the session signature artifact feeds. */
  private def minhashLshFrom(dr: DataFrame, withSig: DataFrame,
                             bands: DataFrame): DataFrame = {
    val cand = cappedBandPairs(bands)
    val edges = verifyCandidates(cand, withSig)
      .where(col("jaccard") >= JaccardThreshold).select("a", "b")
    expandClusters(dr, ConnectedComponents.minLabel(edges))
  }

  /** Sign-once memo for the LSH audit family (VERDICT r9 #5 —
    * [[lshClusterArtifact]]'s convention one stage earlier): the three
    * audit queries ([[bandProfile]], [[sigCalibration]],
    * [[thresholdHistogram]]) each re-ran the exact-dup pre-collapse and
    * the MinHash signature projection from raw documents, so a suite run
    * paid signing 4× (once more inside the cluster artifact). The first
    * consumer writes the (doc_id, rep) dedup map and the representative
    * signature table (doc_id, sh, sig, bandkeys) as parquet ARTIFACTS —
    * integer hashes round-trip parquet exactly — and every later consumer,
    * including the cluster artifact itself, reopens them as columnar
    * scans: sign once, audit AND cluster many. Since round 17 the
    * artifact is fingerprint-keyed ([[graft.engine.Artifacts.durable]]),
    * so "once" means once per corpus GENERATION — a fresh session on an
    * unchanged corpus reopens instead of re-signing (VERDICT r16 #1). */
  private def repSigPaths(s: SparkSession, d: String): (String, String) = {
    val base = graft.engine.Artifacts.durable(s, "sigs", d) { tmp =>
      val docs = Tables.spread(Tables.documents(s, d))
      docReps(docs).write.mode("overwrite").parquet(s"$tmp/dr")
      val dr = s.read.parquet(s"$tmp/dr")
      // eager = false: the single consumer is the parquet write itself —
      // a localCheckpoint first would materialize the same rows twice
      val (withSig, _) = signaturePipeline(repDocs(docs, dr), eager = false)
      withSig.write.mode("overwrite").parquet(s"$tmp/sig")
    }
    (s"$base/dr", s"$base/sig")
  }

  /** The session's (doc_id, rep) exact-dup map for a corpus directory. */
  def drArtifact(s: SparkSession, d: String): DataFrame =
    s.read.parquet(repSigPaths(s, d)._1)

  /** The session's representative signature table and its band explode —
    * identical frames to [[signaturePipeline]]'s, read back from the
    * artifact. */
  def sigArtifact(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val withSig = s.read.parquet(repSigPaths(s, d)._2)
    (withSig, bandsOf(withSig))
  }

  /** LSH band-bucket audit — the tuning report you run BEFORE pointing
    * the banded join at a new corpus: per band the bucket count, the
    * bucket-size maximum, the candidate-pair mass the band will feed the
    * verifier (Σ sz·(sz−1)/2 over buckets inside the
    * 2..[[MaxBandBucket]] window — the actual O() driver of the LSH
    * stage), and how many buckets the [[MaxBandBucket]] cap silences. A
    * band whose max bucket explodes or whose capped count is large means
    * the hash family is degenerating on this corpus (boilerplate
    * shingle, skewed key) and the cap/band geometry needs retuning
    * BEFORE the 100 TB run — this query is the evidence. Output:
    * (band, n_buckets, n_docs, max_bucket, n_cand_pairs, n_capped),
    * all exact integers.
    *
    * 100 TB shape: the same map-only signature projection as
    * [[minhashLsh]], one (band, bkey) count (map-side combined), then a
    * ≤[[Bands]]-row rollup — the audit costs one aggregation over data
    * the dedup run computes anyway, and never materializes a pair. */
  def bandProfile(documents: DataFrame): DataFrame = {
    val docs = Tables.spread(documents)
    val dr = Staging.stage(docReps(docs))
    val (_, bands) = signaturePipeline(repDocs(docs, dr))
    bandProfileFrom(bands)
  }

  /** [[bandProfile]] core over a prebuilt band frame (the session
    * signature artifact's consumer face). */
  private[operators] def bandProfileFrom(bands: DataFrame): DataFrame =
    bands.groupBy("band", "bkey").agg(count(lit(1)).as("bsz"))
      .groupBy("band").agg(
        count(lit(1)).as("n_buckets"),
        sum("bsz").as("n_docs"),
        max("bsz").as("max_bucket"),
        sum(when(col("bsz").between(2, MaxBandBucket),
          expr("bsz * (bsz - 1) div 2")).otherwise(0L)).as("n_cand_pairs"),
        sum(when(col("bsz") > MaxBandBucket, 1L).otherwise(0L)).as("n_capped"))
      .select(col("band").cast("long").as("band"), col("n_buckets"),
        col("n_docs"), col("max_bucket"), col("n_cand_pairs"), col("n_capped"))

  /** Near-duplication provenance — [[sourceAttribution]]'s fuzzy twin:
    * per source, how many documents sit in a multi-document LSH cluster
    * (verbatim copies count via the exact pre-collapse, near-copies via
    * the verified banding). Output: (source, n_docs, n_near_dup_docs,
    * near_dup_rate).
    *
    * 100 TB shape: a columnar scan of the session cluster artifact
    * joined doc-keyed to the source column, then a ≤|sources| rollup —
    * never a re-cluster. */
  def nearDupAttribution(s: SparkSession, d: String): DataFrame =
    lshClusterArtifact(s, d).select("doc_id", "n_dups")
      .join(Tables.documents(s, d).select("doc_id", "source"), "doc_id")
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_dups") > 0, 1L).otherwise(0L)).as("n_near_dup_docs"))
      .select(col("source"), col("n_docs"), col("n_near_dup_docs"),
        round(col("n_near_dup_docs").cast("double") / col("n_docs"), 6)
          .as("near_dup_rate"))

  /** MinHash estimator calibration — "are [[NumHashes]] hashes enough?"
    * answered with data: every capped-band candidate pair bucketed by
    * its signature-agreement count (eighths of the signature → 17
    * buckets), each bucket reporting its pair count and mean EXACT
    * Jaccard. A calibrated estimator puts mean_jaccard ≈ bucket·8/128;
    * systematic deviation at the [[MinSigMatches]] cut means the verify
    * threshold is mis-set for this corpus. No agreement threshold is
    * applied — calibration needs the full range the banding surfaces.
    * Output: (est_bucket, n_pairs, mean_jaccard).
    *
    * 100 TB shape: the candidate+verify stages a dedup run pays anyway
    * (band-capped, never all-pairs), rolled to ≤17 rows. */
  def sigCalibration(documents: DataFrame): DataFrame = {
    val docs = Tables.spread(documents)
    val dr = Staging.stage(docReps(docs))
    val (withSig, bands) = signaturePipeline(repDocs(docs, dr))
    sigCalibrationFrom(withSig, bands)
  }

  /** [[sigCalibration]] core over prebuilt signature/band frames (the
    * session signature artifact's consumer face). */
  private[operators] def sigCalibrationFrom(withSig: DataFrame,
                                            bands: DataFrame): DataFrame =
    cappedBandPairs(bands)
      .join(withSig.select(col("doc_id").as("a"),
        col("sig").as("siga"), col("sh").as("sha")), "a")
      .join(withSig.select(col("doc_id").as("b"),
        col("sig").as("sigb"), col("sh").as("shb")), "b")
      .select(
        graft.functions.SigAgreement.of(col("siga"), col("sigb")).as("agree"),
        graft.functions.SortedIntersectCount.of(col("sha"), col("shb"))
          .as("inter"),
        (size(col("sha")) + size(col("shb"))).as("szsum"))
      .select(expr("agree div 8").cast("long").as("est_bucket"),
        (col("inter").cast("double") / (col("szsum") - col("inter"))).as("j"))
      .groupBy("est_bucket")
      .agg(count(lit(1)).as("n_pairs"), round(avg("j"), 6).as("mean_jaccard"))

  /** Dedup savings report — the one-row headline a pipeline owner
    * publishes after the near-dup pass: document and token mass before
    * vs after keeping one representative (min doc_id) per LSH cluster,
    * and the savings rate. Output: (n_docs, n_clusters, n_kept,
    * tokens_total, tokens_kept, savings_rate).
    *
    * 100 TB shape: a columnar scan of the session cluster artifact
    * (never a re-cluster), one cluster-keyed keeper argmin co-partitioned
    * with it, one doc-keyed token join, a 1-row finisher. */
  def dedupSavings(s: SparkSession, d: String): DataFrame = {
    val cl = lshClusterArtifact(s, d).select("doc_id", "cluster_id")
    val tok = Tables.documents(s, d).select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tok"))
    val keep = cl.groupBy("cluster_id").agg(min("doc_id").as("keeper"))
    cl.join(keep, "cluster_id")
      .select(col("doc_id"), (col("doc_id") === col("keeper")).as("kept"))
      .join(tok, "doc_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum("n_tok").as("tokens_total"),
        sum(when(col("kept"), col("n_tok")).otherwise(0L)).as("tokens_kept"))
      // one keeper per cluster, so the kept count IS the cluster count
      .select(col("n_docs"), col("n_kept").as("n_clusters"), col("n_kept"),
        col("tokens_total"), col("tokens_kept"),
        round(lit(1.0) - col("tokens_kept").cast("double")
          / col("tokens_total"), 6).as("savings_rate"))
  }

  /** Threshold-sensitivity histogram — the verified candidate pairs'
    * Jaccard distribution in tenth-wide buckets (bucket edge floats
    * quenched by the round-then-floor discipline), each bucket flagged
    * with whether it clears [[JaccardThreshold]]: the evidence for
    * whether the clustering verdict is STABLE (pairs pile far from the
    * threshold) or knife-edge (mass in the threshold bucket — a small
    * threshold move would rewire clusters). Output: (j_bucket, n_pairs,
    * clusters).
    *
    * 100 TB shape: exactly [[minhashLsh]]'s candidate+verify stages —
    * the pairs a dedup run verifies anyway — with a ≤11-row rollup in
    * place of the closure. */
  def thresholdHistogram(documents: DataFrame): DataFrame = {
    val docs = Tables.spread(documents)
    val dr = Staging.stage(docReps(docs))
    val (withSig, bands) = signaturePipeline(repDocs(docs, dr))
    thresholdHistogramFrom(withSig, bands)
  }

  /** [[thresholdHistogram]] core over prebuilt signature/band frames (the
    * session signature artifact's consumer face). */
  private[operators] def thresholdHistogramFrom(withSig: DataFrame,
                                                bands: DataFrame): DataFrame =
    verifyCandidates(cappedBandPairs(bands), withSig)
      .select(floor(round(col("jaccard") * 10, 6)).cast("long").as("j_bucket"))
      .groupBy("j_bucket").agg(count(lit(1)).as("n_pairs"))
      .select(col("j_bucket"), col("n_pairs"),
        (col("j_bucket") >= math.round(JaccardThreshold * 10)).as("clusters"))

  /** Exact-duplication provenance report — WHICH source is polluting the
    * corpus: per `source` the document count, distinct text count, the
    * number of documents whose text occurs more than once ANYWHERE in
    * the corpus (cross-source duplication attributes to every source
    * that carries a copy — the number an ingestion owner acts on), and
    * the duplicate rate. Output: (source, n_docs, n_unique_texts,
    * n_dup_docs, dup_rate).
    *
    * 100 TB shape: one md5 fingerprint scan, a map-side-combined sha
    * rollup REDUCED to the duplicated-sha set before it joins back
    * (groupBy + join, not a count window — a pathologically common text
    * would funnel its copies through one window task, while the partial
    * aggregate collapses them map-side and AQE can skew-split the
    * join), then a ≤|sources| rollup. */
  def sourceAttribution(documents: DataFrame): DataFrame = {
    val d = Tables.spread(documents)
      .select(col("doc_id"), col("source"), md5(col("text")).as("sha"))
    val dup = d.groupBy("sha").agg(count(lit(1)).as("n_copies"))
      .where(col("n_copies") > 1).select(col("sha"), lit(true).as("is_dup"))
    d.join(dup, Seq("sha"), "left")
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        countDistinct("sha").as("n_unique_texts"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_docs"))
      .select(col("source"), col("n_docs"), col("n_unique_texts"),
        col("n_dup_docs"),
        round(col("n_dup_docs").cast("double") / col("n_docs"), 6)
          .as("dup_rate"))
  }

  /** Cluster-once / consume-many memo for the registered LSH faces —
    * [[graft.operators.TextAnalysis.trainedMerges]]' train-once
    * convention at corpus scale: the first consumer in a session
    * materializes [[minhashLsh]]'s cluster table as a parquet ARTIFACT
    * (the cluster ledger a production dedup pipeline publishes); every
    * later consumer — the lsh query itself, the quality keeper — reopens
    * it as a plain columnar scan. Unlike the ≤6-row BPE model the
    * cluster table is corpus-sized, so it lives on disk (the
    * [[saveIndex]] convention), immune to the bench's per-query
    * persistent-block release. At 100 TB this is the difference between
    * clustering the corpus once and once per downstream consumer. */
  /** The cluster artifact for a corpus directory — built at most once
    * per corpus GENERATION (fingerprint-keyed, reopened by later
    * sessions — VERDICT r16 #1); identical rows to [[minhashLsh]]
    * (parquet round-trips longs exactly). */
  def lshClusterArtifact(s: SparkSession, d: String): DataFrame = {
    val path = graft.engine.Artifacts.durable(s, "lshclusters", d) { tmp =>
      // rides the signature artifact: the corpus is signed once, then
      // audited AND clustered from the stored signatures
      val (withSig, bands) = sigArtifact(s, d)
      minhashLshFrom(drArtifact(s, d), withSig, bands)
        .write.mode("overwrite").parquet(tmp)
    }
    s.read.parquet(path)
  }

  /** [[lshClusterArtifact]]'s convention for the SimHash family (r17):
    * the transitive-closure cluster table is the hash family's published
    * ledger, and the closure (a multi-round distributed iteration) was
    * the single most expensive piece the bench re-paid per consumer —
    * cluster once per corpus generation, reopen everywhere. Identical
    * rows to [[simhashDedup]] (longs round-trip parquet exactly). */
  def simhashClusterArtifact(s: SparkSession, d: String): DataFrame = {
    val path = graft.engine.Artifacts.durable(s, "simhashclusters", d) { tmp =>
      simhashDedupFrom(drArtifact(s, d), simhashArtifact(s, d))
        .write.mode("overwrite").parquet(tmp)
    }
    s.read.parquet(path)
  }

  /** Verify-once memo for the edit-distance family (r17 —
    * [[ngramPairArtifact]]'s convention at the character grain): the
    * banded-DP-verified (a, b, dist) pair ledger feeds both the
    * best-match rollup and the closure; unmemoized, the bench re-ran
    * the blocking + Levenshtein verification once per consumer. */
  def editPairArtifact(s: SparkSession, d: String): DataFrame = {
    val path = graft.engine.Artifacts.durable(s, "editpairs", d) { tmp =>
      editVerifiedPairs(Tables.documents(s, d))
        .write.mode("overwrite").parquet(tmp)
    }
    s.read.parquet(path)
  }

  /** [[lshClusterArtifact]]'s convention for the edit-distance family
    * (r17): identical rows to [[editDistanceClusters]] — the closure
    * rides the pair artifact, so a session clusters at most once. */
  def editClusterArtifact(s: SparkSession, d: String): DataFrame = {
    val path = graft.engine.Artifacts.durable(s, "editclusters", d) { tmp =>
      editClustersFrom(editPairArtifact(s, d),
        Tables.documents(s, d).select(col("doc_id")))
        .write.mode("overwrite").parquet(tmp)
    }
    s.read.parquet(path)
  }

  /** Quality-aware keeper selection over the [[minhashLsh]] clusters —
    * the refinement production dedup applies on top of cluster discovery:
    * instead of keeping the arbitrary min-doc_id representative, keep the
    * HIGHEST-QUALITY member of every near-duplicate cluster (the
    * composite [[TextAnalysis.qualityScoreCol]], rounded to 1e-6 so an
    * interpolation ulp cannot flip the argmax — same discipline as the
    * quality deciles), ties to the lowest doc_id. One row per document:
    * (doc_id, cluster_id, keeper_id, keep) — singletons keep themselves.
    *
    * 100 TB shape: clustering costs what [[minhashLsh]] costs; the keeper
    * selection adds one map-side-combined `max(struct(q, -doc_id))` per
    * cluster and a join-back keyed on cluster_id — id/score rows only,
    * document text never rides a second shuffle. */
  def qualityKeeper(documents: DataFrame): DataFrame =
    qualityKeeperFrom(minhashLsh(documents).select("doc_id", "cluster_id"),
      documents)

  /** [[qualityKeeper]] over an ALREADY-CLUSTERED table (doc_id,
    * cluster_id) — the face the registry serves from the session cluster
    * artifact ([[lshClusterArtifact]]), so the suite pays LSH clustering
    * once, not once per consumer. */
  def qualityKeeperFrom(clusters: DataFrame, documents: DataFrame): DataFrame = {
    val docs = Tables.spread(documents)
    val cl = Staging.stage(clusters.select("doc_id", "cluster_id")
      .join(docs.select(col("doc_id"),
        TextAnalysis.qualityScoreCol.as("q")), "doc_id"))
    // lexicographic struct max = (max q, then min doc_id via negation)
    val kp = cl.groupBy("cluster_id")
      .agg(max(struct(col("q"), (-col("doc_id")).as("nd"))).as("m"))
      .select(col("cluster_id"), (-col("m.nd")).as("keeper_id"))
    cl.join(kp, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("keeper_id"),
        (col("doc_id") === col("keeper_id")).as("keep"))
  }

  /** Shingle-hash + signature + banded-key stages for a (doc_id, text)
    * frame, shared by the batch and incremental operators so a tuning
    * change cannot drift them apart. The [[Staging.stage]] calls are
    * deliberate stage boundaries, not caching sugar: each output feeds
    * multiple consumers (the signature agg + both verify sides; the bands
    * relation feeds three consumers in the candidate join). Spark MLlib's
    * MinHashLSH materializes its model stage the same way. Staging is
    * always EAGER, never lazy `persist()`: a lazy cache lets the consumers
    * inside one action race to compute the same subtree before the cache
    * populates (measured round 4: lazy caching made the 4-consumer ngram
    * pipeline 4x slower).
    * Returns (withSig = (doc_id, sh, sig), bands = (doc_id, band, bkey)). */
  private def signaturePipeline(docs: DataFrame,
                                eager: Boolean = true): (DataFrame, DataFrame) = {
    // shingles + signature in ONE map-only projection (round 4: the
    // signature aggregate + join-back this replaces was two shuffles and a
    // second checkpoint). `eager = false` skips the checkpoints — right for
    // small probe batches (streaming micro-batches), where recomputing a
    // map-only projection per consumer is cheaper than materializing it.
    def stage(df: DataFrame) = if (eager) Staging.stage(df) else df
    val withSig = stage(docs
      .select(col("doc_id"), hashedShingles(col("text")).as("sh"))
      .withColumn("sig", MinHashSignatures.of(col("sh")))
      // band keys ride inside the checkpoint: the fold over signature
      // slices is an interpreted higher-order expression, and the bands
      // relation has three consumers — materializing 16 longs per doc once
      // beats re-interpreting the fold in every consumer stage (measured
      // round 6: the recomputing consumers each burned ~150 ms/task of
      // executor time on 150-row partitions)
      .withColumn("bandkeys", bandKeys(col("sig"))))
    // bands stays un-checkpointed: now a pure posexplode of a stored array
    (withSig, bandsOf(withSig))
  }

  /** (band, bkey, doc_id) explode of a signature frame's stored band-key
    * array — shared by [[signaturePipeline]] and the artifact read-back. */
  private[operators] def bandsOf(withSig: DataFrame): DataFrame =
    withSig.select(col("doc_id"), posexplode(col("bandkeys")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")

  /** Signature-agreement pre-filter + exact-Jaccard verify over candidate
    * (a, b) pairs, fused into ONE pass: each side of `withSig` is joined
    * once carrying (sig, sh) together, the agreement predicate (≥
    * [[MinSigMatches]] of 128 positions) runs before the shingle-set
    * intersection ever evaluates, and survivors get exact jaccard in the
    * same stage. Round 4: the split formulation joined `withSig` four
    * times per query (sig-only pair, then sh-only pair) — two extra
    * shuffle joins to save ~1.4× payload bytes on the one retained join,
    * a bad trade at every scale. Output: (a, b, jaccard) for agreeing
    * pairs only. */
  private def verifyCandidates(cand: DataFrame, withSig: DataFrame): DataFrame =
    verifyCandidates(cand, withSig, withSig)

  /** Two-sided variant: `a` ids resolve in `aSide`, `b` ids in `bSide`
    * (the incremental probe joins incoming signatures against the corpus
    * index). */
  private def verifyCandidates(cand: DataFrame, aSide: DataFrame,
                               bSide: DataFrame): DataFrame =
    cand
      .join(aSide.select(col("doc_id").as("a"),
        col("sig").as("siga"), col("sh").as("sha")), "a")
      .join(bSide.select(col("doc_id").as("b"),
        col("sig").as("sigb"), col("sh").as("shb")), "b")
      // native agreement count (round 6): per-pair work — the interpreted
      // zip_with/aggregate fold this replaces allocated per element per pair
      .where(graft.functions.SigAgreement.of(col("siga"), col("sigb"))
        >= MinSigMatches)
      .withColumn("inter",
        graft.functions.SortedIntersectCount.of(col("sha"), col("shb")))
      .select(col("a"), col("b"),
        (col("inter").cast("double") /
          (size(col("sha")) + size(col("shb")) - col("inter"))).as("jaccard"))

  /** Attach both shingle sets to candidate (a, b) pairs and compute exact
    * Jaccard = |∩| / (|A| + |B| - |∩|). */
  private def verifyJaccard(cand: DataFrame, docs: DataFrame): DataFrame =
    cand
      .join(docs.select(col("doc_id").as("a"), col("sh").as("sha")), "a")
      .join(docs.select(col("doc_id").as("b"), col("sh").as("shb")), "b")
      .withColumn("inter",
        graft.functions.SortedIntersectCount.of(col("sha"), col("shb")))
      .select(col("a"), col("b"),
        (col("inter").cast("double") /
          (size(col("sha")) + size(col("shb")) - col("inter"))).as("jaccard"))

  // ---- SimHash -------------------------------------------------------------

  /** 60-bit portable SimHash for a (doc_id, text) frame (duplicates count,
    * as in the standard definition): per bit, sum +1/-1 votes over token
    * hashes; positive vote count sets the bit.
    *
    * Round-4 shape: map-only through the native [[SimHash60]]
    * expression — same rationale as [[minhashSignatures]] (the round-3
    * explode + 32 conditional sums shuffled one row per doc and aggregated
    * O(docs × tokens) exploded rows for a per-row pure function). The
    * DuckDB oracle (unnest + GROUP BY votes) is unchanged. */
  def simhashes(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      SimHash60.of(split(col("text"), " ")).as("simhash"))

  /** SimHash near-dup detection: 4×15-bit band blocking (a pair within
    * Hamming distance 3 shares ≥1 band), bucket-capped, verified with
    * bit_count(xor) ≤ [[SimhashHammingMax]], transitively closed. One row
    * per document: (doc_id, simhash, cluster_id, n_near). */
  def simhashDedup(documents: DataFrame): DataFrame = {
    val docs = Tables.spread(documents)
    val dr = Staging.stage(docReps(docs))
    // staged once: the simhash aggregate feeds the band join (3 consumers)
    // and both sides of the Hamming verify
    simhashDedupFrom(dr, Staging.stage(simhashes(repDocs(docs, dr))))
  }

  /** Sign-once memo for the SimHash family (VERDICT r10 #3 — [[sigMemo]]'s
    * convention at the 60-bit grain): the registered query rebuilt the
    * exact-dup collapse the MinHash artifact already stores and re-signed
    * the representatives per run. The artifact rides [[drArtifact]] for
    * the collapse (ONE sha pass per session serves both hash families)
    * and stores the (doc_id, simhash) representative signature table as
    * parquet — int64 signatures round-trip exactly, so every consumer
    * clusters bit-identically to an inline signing
    * (`SessionArtifactSpec`). */
  /** The representative (doc_id, simhash) table for a corpus directory —
    * signed at most once per corpus generation, reopened across
    * sessions. */
  def simhashArtifact(s: SparkSession, d: String): DataFrame = {
    val path = graft.engine.Artifacts.durable(s, "simhash", d) { tmp =>
      simhashes(repDocs(Tables.spread(Tables.documents(s, d)), drArtifact(s, d)))
        .write.mode("overwrite").parquet(tmp)
    }
    s.read.parquet(path)
  }

  /** [[simhashDedup]] core over a prebuilt (doc_id, rep) map and
    * representative signature table — the artifact consumer face. */
  private[operators] def simhashDedupFrom(dr: DataFrame,
                                          reps: DataFrame): DataFrame = {
    val bands = reps.select(col("doc_id"),
      posexplode(array((0 until SimhashBands).map(j =>
        shiftright(col("simhash"), SimhashBandBits * j)
          .bitwiseAND(lit((1L << SimhashBandBits) - 1))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
    val cand = cappedBandPairs(bands)
    val edges = cand
      .join(reps.select(col("doc_id").as("a"), col("simhash").as("ha")), "a")
      .join(reps.select(col("doc_id").as("b"), col("simhash").as("hb")), "b")
      .where(bit_count(col("ha").bitwiseXOR(col("hb"))) <= SimhashHammingMax)
      .select("a", "b")
    // fused expansion: label + simhash attach in one rep-keyed join chain
    // (the generic expandClusters + separate allSim join paid one more
    // doc_id-keyed shuffle join for the same result)
    val comp = ConnectedComponents.minLabel(edges).withColumnRenamed("id", "rep")
    val labeled = dr
      .join(comp, Seq("rep"), "left")
      .join(reps.withColumnRenamed("doc_id", "rep"), "rep")
      .select(col("doc_id"), col("simhash"),
        coalesce(col("component"), col("rep")).as("cluster_id"))
    val sizes = labeled.groupBy("cluster_id").agg(count(lit(1)).as("sz"))
    labeled.join(sizes, "cluster_id")
      .select(col("doc_id"), col("simhash"), col("cluster_id"),
        (col("sz") - 1).as("n_near"))
  }

  // ---- incremental MinHash (new batch vs indexed corpus) -------------------

  /** The deterministic corpus/incoming split used by the registered query:
    * doc_id ≡ 0 (mod 5) plays the "new batch" (~20%), the rest the
    * already-indexed corpus. */
  val IncomingMod = 5

  /** The registered incremental-dedup query: split the documents table by
    * [[IncomingMod]], index the corpus side, probe the incoming side —
    * exactly [[buildIndex]] + [[probeIndex]], which is also the streaming
    * ingestion path ([[probeIndex]] on [[graft.streaming.StreamingScorer]]
    * probes the same index per micro-batch), so the DuckDB oracle checks both. */
  def minhashLshIncremental(documents: DataFrame): DataFrame = {
    val isIncoming = col("doc_id") % IncomingMod === 0
    val docs = Tables.spread(documents)
    probeIndex(buildIndex(docs.where(!isIncoming)), docs.where(isIncoming))
  }

  /** A prebuilt MinHash LSH index over a corpus: checkpointed signatures,
    * banded keys, and the under-cap bucket set — the "100 TB side" of
    * incremental dedup, built ONCE and probed by any number of batch or
    * streaming ingests ([[probeIndex]], batch or on
    * [[graft.streaming.StreamingScorer]]). At scale these three frames are
    * persisted tables bucketed by (band, bkey). */
  final case class MinHashIndex(withSig: DataFrame, bands: DataFrame,
                                okBuckets: DataFrame)

  /** Build the [[MinHashIndex]]: exact-dup pre-collapse (one
    * representative per distinct content, so a heavily-duplicated corpus
    * document cannot cap out its own buckets and hide from probes), then
    * the shared signature pipeline, then the bucket-cap set (buckets
    * holding more than [[MaxBandBucket]] contents answer no probes — the
    * skew guard). */
  def buildIndex(corpus: DataFrame): MinHashIndex = {
    val reps = repDocs(corpus, docReps(corpus))
    val (withSig, bands) = signaturePipeline(reps)
    val ok = Staging.stage(
      bands.groupBy("band", "bkey").agg(count(lit(1)).as("n"))
        .where(col("n") <= MaxBandBucket).select("band", "bkey"))
    MinHashIndex(withSig, bands, ok)
  }

  /** Bucket count for the persisted index tables ([[saveIndex]]). A real
    * deployment sizes this to corpus_bands / target_bucket_bytes. */
  val IndexBuckets = 8

  /** Persist a [[MinHashIndex]] as BUCKETED tables — the durable form of
    * the "100 TB side" of incremental dedup: the band relations bucket by
    * (band, bkey), the signature relation by doc_id, each sorted within
    * buckets, so every join [[probeIndex]] performs against the corpus
    * lands on the table's own partitioning — the corpus is shuffled ONCE
    * at write time and never again, by any number of subsequent batch or
    * streaming ingests (the probe side, being the small side, exchanges
    * to match the bucket count). `BucketedIndexSpec` pins the plan:
    * co-bucketed joins run with zero Exchange on the corpus side. */
  def saveIndex(index: MinHashIndex, prefix: String): Unit = {
    val s = index.withSig.sparkSession
    index.withSig.write.mode("overwrite").format("parquet")
      .option("path", Artifacts.freshTableLocation(s, s"${prefix}_sig"))
      .bucketBy(IndexBuckets, "doc_id").sortBy("doc_id")
      .saveAsTable(s"${prefix}_sig")
    index.bands.write.mode("overwrite").format("parquet")
      .option("path", Artifacts.freshTableLocation(s, s"${prefix}_bands"))
      .bucketBy(IndexBuckets, "band", "bkey").sortBy("band", "bkey")
      .saveAsTable(s"${prefix}_bands")
    index.okBuckets.write.mode("overwrite").format("parquet")
      .option("path", Artifacts.freshTableLocation(s, s"${prefix}_ok"))
      .bucketBy(IndexBuckets, "band", "bkey").sortBy("band", "bkey")
      .saveAsTable(s"${prefix}_ok")
  }

  /** Reopen a persisted index. The returned frames carry the tables' own
    * bucket partitioning, so probes skip the corpus-side exchange. */
  def loadIndex(spark: SparkSession, prefix: String): MinHashIndex =
    MinHashIndex(
      spark.table(s"${prefix}_sig"),
      spark.table(s"${prefix}_bands"),
      spark.table(s"${prefix}_ok"))

  /** Probe a NEW batch of documents against an indexed corpus — the
    * ingestion path, where the batch is small and the corpus is the 100 TB
    * side. The LSH band join is asymmetric (incoming x corpus, never
    * corpus x corpus): work is O(batch) probes into the banded index. The
    * incoming side is not collapsed (incoming docs never pair with each
    * other); `match_id` is the min-doc_id representative of the matched
    * corpus content. One row per incoming document: (doc_id, match_id,
    * match_jaccard) — nulls when nothing in the corpus clears
    * [[JaccardThreshold]]. Streaming-safe: the incoming frame's signature
    * stage is uncached map-only work, so this runs unchanged inside a
    * foreachBatch micro-batch. */
  def probeIndex(index: MinHashIndex, incoming: DataFrame): DataFrame = {
    val inc = incoming.select("doc_id", "text")
    val (incSig, incBands) = signaturePipeline(inc, eager = false)
    probeSigned(index, incSig, incBands)
  }

  /** [[probeIndex]] core over an ALREADY-SIGNED incoming frame
    * (doc_id, sh, sig, bandkeys) — the session-artifact consumer face
    * (VERDICT r11 #2): when the probe side is a corpus split whose
    * signatures the session artifact already holds ([[subsetSigned]]),
    * re-signing 80% of the corpus per run (and, at `eager = false`,
    * once more per consumer stage) is pure waste. */
  private[operators] def probeSigned(index: MinHashIndex, incSig: DataFrame,
                                     incBands: DataFrame): DataFrame = {
    val cand = incBands.join(index.okBuckets, Seq("band", "bkey"))
      .select(col("band"), col("bkey"), col("doc_id").as("a"))
      .join(index.bands.select(col("band"), col("bkey"), col("doc_id").as("b")),
        Seq("band", "bkey"))
      .select("a", "b").distinct()
    val hits = verifyCandidates(cand, incSig, index.withSig)
      .where(col("jaccard") >= JaccardThreshold)
    val best = hits.groupBy("a")
      .agg(max_by(struct(col("b"), col("jaccard")),
                  struct(col("jaccard"), (-col("b")).as("nb"))).as("m"))
      .withColumnRenamed("a", "doc_id")
    incSig.select("doc_id")
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("m.b").as("match_id"),
        col("m.jaccard").as("match_jaccard"))
  }

  /** Per-document signed frame (doc_id, sh, sig, bandkeys) for a corpus
    * subset, DERIVED from the session artifacts instead of re-signing:
    * signatures are functions of text alone, so every document carries
    * its exact-dup representative's artifact row verbatim. The join is
    * rep-keyed against the columnar artifact — no text scan, no
    * 128-seed MinHash recompute (VERDICT r11 #2). */
  private[operators] def subsetSigned(dr: DataFrame, withSig: DataFrame,
                                      pred: Column): DataFrame =
    Staging.stage(dr.where(pred)
      .join(withSig.withColumnRenamed("doc_id", "rep"), "rep")
      .select(col("doc_id"), col("sh"), col("sig"), col("bandkeys")))

  /** [[buildIndex]] for a corpus SUBSET, derived from the session
    * artifacts: the subset's exact-dup representatives are the min
    * doc_id per global rep group restricted to the subset (identical to
    * collapsing the subset from scratch — same content ⇒ same global
    * rep), and their signatures are the global rep's artifact rows.
    * Bit-identical to `buildIndex(docs.where(pred))` with zero text
    * work. */
  private[operators] def subsetIndex(dr: DataFrame, withSig: DataFrame,
                                     pred: Column): MinHashIndex = {
    val reps = dr.where(pred).groupBy("rep").agg(min("doc_id").as("doc_id"))
    val ws = Staging.stage(reps
      .join(withSig.withColumnRenamed("doc_id", "rep"), "rep")
      .select(col("doc_id"), col("sh"), col("sig"), col("bandkeys")))
    val bands = bandsOf(ws)
    // ok deliberately UNSTAGED here (r18): a subset index serves exactly
    // one probe per query invocation, so the bucket-cap set has a single
    // consumer and staging it only added an action — [[buildIndex]]'s
    // stays staged because a streaming session probes ITS index once per
    // micro-batch.
    val ok = bands.groupBy("band", "bkey").agg(count(lit(1)).as("n"))
      .where(col("n") <= MaxBandBucket).select("band", "bkey")
    MinHashIndex(ws, bands, ok)
  }

  /** Artifact-served [[minhashLshIncremental]]: the 80% corpus index and
    * the 20% probe signatures both ride the session signature artifact —
    * the registered query touches no raw text at all. */
  def minhashLshIncrementalArtifact(s: SparkSession, d: String): DataFrame = {
    val isIncoming = col("doc_id") % IncomingMod === 0
    val dr = drArtifact(s, d)
    val (ws, _) = sigArtifact(s, d)
    val incSig = subsetSigned(dr, ws, isIncoming)
    probeSigned(subsetIndex(dr, ws, !isIncoming), incSig, bandsOf(incSig))
  }

  // ---- exact n-gram Jaccard best match (unchanged from round 1) ------------

  /** Exact n-gram (word 3-shingle) Jaccard best-match per document:
    * candidates via inverted shingle index (df-capped), exact verify, keep
    * each doc's best match (max jaccard, tiebreak min other id). One row per
    * document; docs with no candidate pair get nulls. */
  def ngramJaccardBestMatch(documents: DataFrame): DataFrame =
    bestMatchBySets(Tables.spread(documents)
      .select(col("doc_id"), hashedShingles(col("text")).as("sh")))

  /** The inverted-index best-match core over any (doc_id, sh: array<long>)
    * set frame — shared by the text n-gram operator above and
    * [[Multimodal.blockDedup]] (binary block hashes): df-capped index,
    * exact set-Jaccard verify, per-doc best (max jaccard, min other id). */
  private[operators] def bestMatchBySets(setsFrame: DataFrame): DataFrame = {
    val docs = Staging.stage(setsFrame)
    bestMatchFromVerified(verifyJaccard(dfCappedCandidates(docs), docs),
      docs.select("doc_id"))
  }

  /** Best-match rollup over a verified symmetric edge frame (a, b,
    * jaccard) — split out so the session pair artifact
    * ([[ngramPairArtifact]]) can feed it without re-verifying. */
  private[operators] def bestMatchFromVerified(ver: DataFrame,
                                               ids: DataFrame): DataFrame = {
    val nbrs = ver.select(col("a").as("doc_id"), col("b").as("other"), col("jaccard"))
      .unionAll(ver.select(col("b").as("doc_id"), col("a").as("other"), col("jaccard")))
    val best = nbrs.groupBy("doc_id")
      .agg(max_by(struct(col("other"), col("jaccard")),
                  struct(col("jaccard"), (-col("other")).as("nother"))).as("m"))
      .select(col("doc_id"), col("m.other").as("best_match"),
        col("m.jaccard").as("best_jaccard"))
    ids.join(best, Seq("doc_id"), "left")
      .select("doc_id", "best_match", "best_jaccard")
  }

  /** Candidate (a, b) pairs from a (doc_id, sh) set frame via the
    * df-capped inverted index — the bounded-fan-out candidate core shared
    * by the Jaccard and containment best-match operators. Package-visible
    * so the skew stress spec can pin the candidate-count ceilings. */
  private[operators] def dfCappedCandidates(docs: DataFrame): DataFrame = {
    val inv = docs.select(col("doc_id"), explode(col("sh")).as("s"))
    val keep = inv.groupBy("s").agg(count(lit(1)).as("df"))
      .where(col("df").between(2, MaxShingleDf)).select("s")
    val inv2 = inv.join(keep, "s")
    inv2.select(col("s"), col("doc_id").as("a"))
      .join(inv2.select(col("s"), col("doc_id").as("b")), "s")
      .where(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** Asymmetric CONTAINMENT best match: per document, the candidate whose
    * shingle overlap covers the largest fraction of THIS document's set —
    * containment(A in B) = |A∩B| / |A|. Symmetric Jaccard misses
    * excerpt/quotation relationships (a paragraph lifted into a much
    * longer document scores near-zero Jaccard but containment ≈ 1 for the
    * excerpt), which is exactly the leakage shape decontamination and
    * license-compliance sweeps look for. Same df-capped candidate core
    * and scale shape as [[ngramJaccardBestMatch]]; one row per document:
    * (doc_id, best_match, best_containment). */
  def containmentBestMatch(documents: DataFrame): DataFrame = {
    val docs = Staging.stage(Tables.spread(documents)
      .select(col("doc_id"), hashedShingles(col("text")).as("sh")))
    val pairs = dfCappedCandidates(docs)
      .join(docs.select(col("doc_id").as("a"), col("sh").as("sha")), "a")
      .join(docs.select(col("doc_id").as("b"), col("sh").as("shb")), "b")
      .select(col("a"), col("b"),
        graft.functions.SortedIntersectCount.of(col("sha"), col("shb")).as("inter"),
        size(col("sha")).as("sa"), size(col("shb")).as("sb"))
    containmentFromPairs(pairs, docs.select("doc_id"))
  }

  /** [[containmentBestMatch]] core over a verified pair ledger (a, b,
    * inter, sa, sb) — the session pair artifact's consumer face. */
  private[operators] def containmentFromPairs(pairs: DataFrame,
                                              ids: DataFrame): DataFrame = {
    val ver = pairs.select(col("a"), col("b"),
      (col("inter").cast("double") / col("sa")).as("c_ab"),
      (col("inter").cast("double") / col("sb")).as("c_ba"))
    val nbrs = ver.select(col("a").as("doc_id"), col("b").as("other"), col("c_ab").as("c"))
      .unionAll(ver.select(col("b").as("doc_id"), col("a").as("other"), col("c_ba").as("c")))
    val best = nbrs.groupBy("doc_id")
      .agg(max_by(struct(col("other"), col("c")),
                  struct(col("c"), (-col("other")).as("nother"))).as("m"))
      .select(col("doc_id"), col("m.other").as("best_match"),
        col("m.c").as("best_containment"))
    ids.join(best, Seq("doc_id"), "left")
      .select("doc_id", "best_match", "best_containment")
  }

  /** The verified pair ledger over the full-document df-capped
    * inverted index: (a, b, inter, sa, sb) — every (candidate pair,
    * intersection size, set sizes) the n-gram family needs. Jaccard AND
    * both containments are pure arithmetic over these five exact ints,
    * so [[ngramJaccardBestMatch]] and [[containmentBestMatch]] (r11's
    * two >2.5 s re-verifiers) share ONE inverted-index+verify run per
    * session and replay the rollup from a columnar scan (VERDICT r11
    * #2). Ints round-trip parquet exactly → bit-identical detour
    * (`SessionArtifactSpec`). */
  def ngramPairArtifact(s: SparkSession, d: String): DataFrame = {
    val path = graft.engine.Artifacts.durable(s, "ngpairs", d) { tmp =>
      val docs = Staging.stage(Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), hashedShingles(col("text")).as("sh")))
      dfCappedCandidates(docs)
        .join(docs.select(col("doc_id").as("a"), col("sh").as("sha")), "a")
        .join(docs.select(col("doc_id").as("b"), col("sh").as("shb")), "b")
        .select(col("a"), col("b"),
          graft.functions.SortedIntersectCount.of(col("sha"), col("shb")).as("inter"),
          size(col("sha")).as("sa"), size(col("shb")).as("sb"))
        .write.mode("overwrite").parquet(tmp)
    }
    s.read.parquet(path)
  }

  /** Artifact-served [[ngramJaccardBestMatch]] — jaccard replayed from
    * the pair ledger's exact ints in the inline op's own expression
    * shape (int promotion order preserved → identical doubles). */
  def ngramJaccardArtifact(s: SparkSession, d: String): DataFrame =
    bestMatchFromVerified(
      ngramPairArtifact(s, d).select(col("a"), col("b"),
        (col("inter").cast("double") /
          (col("sa") + col("sb") - col("inter"))).as("jaccard")),
      Tables.documents(s, d).select("doc_id"))

  /** Artifact-served [[containmentBestMatch]]. */
  def containmentArtifact(s: SparkSession, d: String): DataFrame =
    containmentFromPairs(ngramPairArtifact(s, d),
      Tables.documents(s, d).select("doc_id"))

  // ---- edit-distance near-dup (blocked Levenshtein) ------------------------

  /** Max unit-cost edits for an [[editDistanceBestMatch]] pair. */
  val MaxEditDistance = 3
  /** Length-bucket width for edit blocking (≫ [[MaxEditDistance]], so a
    * qualifying pair spans at most adjacent buckets). */
  val EditLenBucket = 64
  /** Blocking prefix/suffix length. */
  val EditAffix = 16
  /** Documents longer than this are excluded — edit distance is a
    * short-record operator (titles, queries, log lines, form fields);
    * its O(len²) verify has no place on book-length text, where the
    * shingle/MinHash family owns near-dup. */
  val MaxEditLen = 2048

  /** Blocked-Levenshtein near-dup best match — the character-level
    * precision instrument the token-level family can't replace: typo'd
    * re-submissions, boilerplate with one edited field, OCR jitter.
    * Candidates come from 4 blocking keys per document — {prefix,
    * suffix} × {own, next} length bucket — so any ≤[[MaxEditDistance]]
    * pair whose edits avoid at least one [[EditAffix]]-char end is
    * caught regardless of which bucket edge it straddles (a pair edited
    * in BOTH ends is the documented recall bound, the [[MaxBandBucket]]
    * trade-off convention). Buckets are capped, then pairs verify with
    * the THRESHOLDED Levenshtein kernel (banded DP — O(len·k), not
    * O(len²)) after an exact length-difference pre-filter. One row per
    * document: (doc_id, best_match, best_distance), nulls when nothing
    * qualifies.
    *
    * 100 TB shape: map-only key generation, the shared capped-bucket
    * pairing (never all-pairs), and per-pair verification bounded by
    * [[MaxEditLen]]·[[MaxEditDistance]] — text shuffles only for
    * verified candidate pairs, never corpus×corpus. */
  /** The staged verified edge set (a, b, dist) shared by
    * [[editDistanceBestMatch]] and [[editDistanceClusters]]. */
  private def editVerifiedPairs(documents: DataFrame): DataFrame = {
    val docs = Tables.spread(documents)
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
    val eligible = Staging.stage(docs.where(col("len") <= MaxEditLen))
    def key(side: String, off: Int): Column = {
      val affix =
        if (side == "p") expr(s"left(text, $EditAffix)")
        else expr(s"right(text, $EditAffix)")
      concat(lit(side), lit(":"),
        (expr(s"len div $EditLenBucket") + off).cast("string"), lit(":"), affix)
    }
    // band is constant: the side prefix inside the key string already
    // separates p/s, and the off-0/off-1 variants MUST share a bucket —
    // that's exactly how a pair straddling a bucket edge meets
    val bands = eligible.select(col("doc_id"), lit(0).as("band"),
        explode(array(key("p", 0), key("p", 1), key("s", 0), key("s", 1)))
          .as("bkey"))
    // staged: every consumer reads the verified edges at least twice —
    // without this the whole block-pair-verify pipeline would execute
    // once per branch
    Staging.stage(cappedBandPairs(bands)
      .join(eligible.select(col("doc_id").as("a"), col("text").as("ta"),
        col("len").as("la")), "a")
      .join(eligible.select(col("doc_id").as("b"), col("text").as("tb"),
        col("len").as("lb")), "b")
      .where(abs(col("la") - col("lb")) <= MaxEditDistance)
      // native kernel: common prefix/suffix stripped before the banded
      // DP, so near-copies of LONG documents — the case a verifier sees
      // most — cost O(diff·k), not O(len·k) (18× on the sf1 sweep vs
      // the builtin 3-arg levenshtein; identical results by construction)
      .withColumn("dist", graft.functions.BoundedLevenshtein.of(
        col("ta"), col("tb"), MaxEditDistance))
      .where(col("dist") >= 0) // thresholded kernel returns -1 past the cap
      .select("a", "b", "dist"))
  }

  def editDistanceBestMatch(documents: DataFrame): DataFrame =
    editBestMatchFrom(editVerifiedPairs(documents), documents.select("doc_id"))

  /** Best-match rollup over a verified (a, b, dist) ledger — split out so
    * the session pair artifact ([[editPairArtifact]]) can feed it without
    * re-verifying. */
  private[operators] def editBestMatchFrom(ver: DataFrame,
                                           ids: DataFrame): DataFrame = {
    val nbrs = ver.select(col("a").as("doc_id"), col("b").as("other"), col("dist"))
      .unionAll(ver.select(col("b").as("doc_id"), col("a").as("other"), col("dist")))
    val best = nbrs.groupBy("doc_id")
      .agg(max_by(struct(col("other"), col("dist")),
        struct((-col("dist")).as("nd"), (-col("other")).as("nother"))).as("m"))
      .select(col("doc_id"), col("m.other").as("best_match"),
        col("m.dist").as("best_distance"))
    ids.join(best, Seq("doc_id"), "left")
      .select("doc_id", "best_match", "best_distance")
  }

  /** Edit-distance near-dup CLUSTERS — the transitive-closure face of
    * the character-level family, consistent with [[minhashLsh]]'s and
    * `dedup_embedding`'s contract: one row per document,
    * (doc_id, cluster_id, n_dups), cluster label = least member id,
    * chains A~B~C closed even when A and C differ by more than
    * [[MaxEditDistance]] edits. Over-length and match-less documents
    * are singletons of themselves.
    *
    * 100 TB shape: the SAME staged verified edge set as
    * [[editDistanceBestMatch]], then the alternating large-star/
    * small-star closure over id pairs — text never enters the
    * iteration. */
  def editDistanceClusters(documents: DataFrame): DataFrame =
    editClustersFrom(editVerifiedPairs(documents).select("a", "b"),
      documents.select(col("doc_id")))

  /** Closure + labeling over a verified edge ledger — the pair-artifact
    * consumer face ([[editClusterArtifact]]). */
  private[operators] def editClustersFrom(edges: DataFrame,
                                          ids: DataFrame): DataFrame = {
    val comp = ConnectedComponents.minLabel(edges.select("a", "b"))
      .withColumnRenamed("id", "doc_id")
    val labeled = ids
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster_id"))
    val sizes = labeled.groupBy("cluster_id").agg(count(lit(1)).as("sz"))
    labeled.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), (col("sz") - 1).as("n_dups"))
  }

  // ---- chunk-grain exact passage dedup -------------------------------------

  /** Repeated-passage detection at the chunk grain — the practical
    * approximation of substring dedup (Lee et al. 2022 deduplicate exact
    * substrings; chunk-hash matching catches the same boilerplate/
    * template passages at a fraction of the cost): every document is cut
    * into [[Corpus.ChunkTokens]]-token windows at [[Corpus.ChunkStride]]
    * (the SAME geometry as `corpus_chunk_plan` — [[Corpus.lastChunkIdx]]
    * is the shared definition), each
    * window's token span hashes to int64, and a window is `duplicated`
    * iff its hash occurs more than once corpus-wide. One row per chunk:
    * (doc_id, chunk_idx, chunk_hash, n_occurrences, duplicated).
    *
    * 100 TB shape: a map-only tokenize+window+hash projection, one
    * map-side-combined count per distinct hash, and a hash-keyed join
    * back — the corpus shuffles 8-byte hashes, never text. The 32-bit
    * [[h32]] is the ORACLE-portability choice; at real corpus scale
    * (billions of windows) the swap-in is a 128-bit hash (e.g.
    * xxhash128/sha prefix) so birthday collisions cannot manufacture
    * false duplicates — nothing else in the plan changes. */
  def chunkExact(documents: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val start = col("col") * Corpus.ChunkStride
    val len = least(lit(Corpus.ChunkTokens.toLong), col("n_tok") - start)
    val hashed = Tables.spread(documents)
      // tokenize ONCE into (t, n_tok); the window count is column
      // arithmetic over n_tok via the shared geometry helper
      .select(col("doc_id"), toks.as("t"), size(toks).cast("long").as("n_tok"))
      .select(col("doc_id"), col("t"), col("n_tok"),
        posexplode(sequence(lit(0L), Corpus.lastChunkIdx(col("n_tok")))))
      .select(col("doc_id"), col("col").as("chunk_idx"),
        h32(concat_ws(" ",
          slice(col("t"), (start + 1).cast("int"), len.cast("int"))))
          .as("chunk_hash"))
    val occ = hashed.groupBy("chunk_hash").agg(count(lit(1)).as("n_occurrences"))
    hashed.join(occ, "chunk_hash")
      .select(col("doc_id"), col("chunk_idx"), col("chunk_hash"),
        col("n_occurrences"), (col("n_occurrences") > 1).as("duplicated"))
  }

  /** Minimum length (tokens) for an exactly-repeated span to be reported —
    * Lee et al. 2022 §4's dedup threshold. */
  val MinSpanTokens = 50

  /** Exact duplicated-span extraction at the suffix-array grain — the
    * precision upgrade over [[chunkExact]]'s [[Corpus.ChunkStride]]-stride
    * approximation (Lee et al. 2022 §4 remove every substring of ≥50
    * tokens that appears twice in the corpus; the strided chunk pass can
    * miss a repeat that straddles chunk boundaries): a token position is
    * COVERED iff the [[MinSpanTokens]]-gram starting there occurs at
    * least twice corpus-wide (counting every occurrence site, within- and
    * cross-document — a substring of length L ≥ 50 repeats iff all of its
    * 50-gram start positions are covered, so the union of covered windows
    * IS the union of repeated ≥50-token substrings, the exact byte range
    * the paper's dedup deletes). Consecutive covered positions merge into
    * MAXIMAL spans per document. One row per maximal span: (doc_id,
    * span_start 0-based, span_tokens, min_occurrences = the occurrence
    * count of the span's rarest gram — a lower bound on how often every
    * part of the span repeats, n_positions = covered gram starts, =
    * span_tokens − [[MinSpanTokens]] + 1 by construction).
    *
    * 100 TB shape: a map-only tokenize+window+hash projection (the
    * suffix-array sort the paper builds is replaced by a gram-hash
    * GROUP BY — same dup verdict per position, embarrassingly parallel,
    * no global sort), one map-side-combined count per distinct gram hash
    * REDUCED to the duplicated set before it joins back (the corpus
    * shuffles 8-byte hashes, never text), then a per-document
    * gaps-and-islands window — partitioned by doc_id, so no single-task
    * funnel. The 32-bit [[h32]] is the ORACLE-portability choice; at
    * real corpus scale the swap-in is a 128-bit hash so birthday
    * collisions cannot manufacture false spans — nothing else changes. */
  def spanExact(documents: DataFrame): DataFrame =
    islandsOf(coveredPositions(documents))
      .agg(min("pos").as("span_start"),
        (max("pos") - min("pos") + MinSpanTokens).as("span_tokens"),
        min("n_occ").as("min_occurrences"),
        count(lit(1)).as("n_positions"))
      .select("doc_id", "span_start", "span_tokens", "min_occurrences",
        "n_positions")

  /** (doc_id, pos, n_occ) — every gram position whose
    * [[MinSpanTokens]]-gram repeats corpus-wide, with its occurrence
    * count: the covered-position relation [[spanExact]],
    * [[spanSavings]] and [[spanApply]] all derive from. The duplicated
    * gram set is REDUCED (one map-side-combined count per distinct gh)
    * before it joins back — the corpus shuffles 8-byte hashes only. */
  private def coveredPositions(documents: DataFrame): DataFrame = {
    val grams = spanGrams(documents)
    val dup = grams.groupBy("gh").agg(count(lit(1)).as("n_occ"))
      .where(col("n_occ") > 1)
    grams.join(dup, "gh")
  }

  /** (doc_id, pos, gh) positional [[MinSpanTokens]]-gram hash projection —
    * shared by [[spanExact]], the span index builder, and the probe.
    * Map-only; docs under the grain emit nothing. */
  private def spanGrams(documents: DataFrame): DataFrame =
    // r18: one native codegen'd pass per row
    // ([[graft.functions.SpanGramHashes]]): a positional gram is exactly
    // the byte range spanning its k tokens, md5'd directly — the
    // interpreted per-slot slice + concat_ws + hex-md5 chain is gone.
    // Same hashes in the same positions; docs under the grain emit the
    // empty array ≡ the former n_tok filter.
    Tables.spread(documents)
      .select(col("doc_id"), posexplode(
        graft.functions.SpanGramHashes.of(col("text"), MinSpanTokens)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("gh"))

  /** Covered positions grouped into maximal runs: appends the
    * gaps-and-islands group key (pos − per-doc row_number — constant
    * exactly while positions are consecutive) and pre-groups by it. The
    * window is PARTITIONED by doc_id — no single-task global window. */
  private def islandsOf(covered: DataFrame)
      : org.apache.spark.sql.RelationalGroupedDataset = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    covered.withColumn("grp", col("pos") - row_number().over(w))
      .groupBy("doc_id", "grp")
  }

  /** Covered positions merged into the per-document UNION of covered
    * TOKEN intervals — the grain [[spanSavings]] and [[spanApply]]
    * account in. Position p covers tokens [p, p+[[MinSpanTokens]]): two
    * covered positions produce overlapping-or-adjacent token ranges iff
    * they are ≤ [[MinSpanTokens]] apart, so the union intervals are the
    * gap-≤-K islands of the covered-position sequence (a strictly
    * coarser merge than [[islandsOf]]'s gap-1 maximal spans — two
    * maximal spans closer than K tokens share token mass, which a plain
    * `sum(span_tokens)` double-counts; ADVICE r10). Output one row per
    * disjoint interval: (doc_id, s, e) with e exclusive.
    *
    * Both windows share one doc_id-partitioned sort — no single-task
    * global window. */
  private def mergedSpans(covered: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    covered
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(w) > MinSpanTokens, 1L)
          .otherwise(0L))
      .withColumn("grp", sum("brk").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "grp")
      .agg(min("pos").as("s"), (max("pos") + MinSpanTokens).as("e"))
      .select("doc_id", "s", "e")
  }

  /** A FROZEN span index — the distinct [[MinSpanTokens]]-gram hash set
    * of the resident corpus: the "100 TB side" of incremental span
    * dedup, built once (at scale a persisted table bucketed on gh) and
    * probed by any number of batch or streaming ingests. */
  def buildSpanIndex(corpus: DataFrame): DataFrame =
    Staging.stage(spanGrams(corpus).select("gh").distinct())

  /** Persist a frozen span index as a BUCKETED table — the [[saveIndex]]
    * convention at the span grain (VERDICT r11 #4): at 100 TB the
    * resident corpus's distinct-gram set IS a persisted table, bucketed
    * and sorted on the 8-byte hash, so every batch or streaming probe
    * joins it on the table's own partitioning — the corpus grams shuffle
    * ONCE at write time and never again. */
  def saveSpanIndex(index: DataFrame, table: String): Unit =
    index.write.mode("overwrite").format("parquet")
      .option("path",
        Artifacts.freshTableLocation(index.sparkSession, table))
      .bucketBy(IndexBuckets, "gh").sortBy("gh").saveAsTable(table)

  /** Reopen a persisted span index carrying its bucket partitioning. */
  def loadSpanIndex(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Probe incoming documents against a FROZEN span index: an incoming
    * position is covered iff its gram REPEATS RESIDENT CONTENT (the
    * decontamination/ingestion-gate semantic — within-batch repetition is
    * [[spanExact]]'s closed-corpus job, not the probe's); consecutive
    * covered positions merge into maximal spans. Output: (doc_id,
    * span_start, span_tokens, n_positions) — the spans of the incoming
    * batch that already exist somewhere in the corpus, at the same
    * suffix-array grain as [[spanExact]].
    *
    * 100 TB shape: O(batch) gram cells joined on the 8-byte hash against
    * the persisted index, then the per-incoming-doc islands window —
    * the corpus never rescans ([[graft.streaming.StreamingScorer]] runs the same
    * probe per micro-batch). */
  def probeSpans(index: DataFrame, incoming: DataFrame): DataFrame =
    islandsOf(spanGrams(incoming).join(index, "gh"))
      .agg(min("pos").as("span_start"),
        (max("pos") - min("pos") + MinSpanTokens).as("span_tokens"),
        count(lit(1)).as("n_positions"))
      .select("doc_id", "span_start", "span_tokens", "n_positions")

  /** The registered incremental face — the [[IncomingMod]] split
    * convention: index the resident 80 %, probe the incoming 20 %. */
  def spanProbeSplit(documents: DataFrame): DataFrame = {
    val isIncoming = col("doc_id") % IncomingMod === 0
    probeSpans(buildSpanIndex(documents.where(!isIncoming)),
      documents.where(isIncoming))
  }

  /** Span-dedup headline — the one-row coverage report beside
    * [[dedupSavings]]' cluster-grain twin: how much of the corpus token
    * mass sits inside exactly-repeated ≥[[MinSpanTokens]]-token spans
    * (the byte range Lee et al. 2022 §4's substring dedup rewrites —
    * EXACTLY the token mass [[spanApply]] removes, cross-op pinned).
    * Accounted at the [[mergedSpans]] union grain since r11: overlapping
    * maximal spans no longer double-count, so the rate is a true union
    * coverage ≤ 1 (ADVICE r10). n_spans counts the disjoint union
    * intervals (= the cuts a rewrite performs), which can be fewer than
    * [[spanExact]]'s maximal-span rows. Output: (n_docs, tokens_total,
    * n_spanned_docs, n_spans, tokens_in_spans, span_coverage_rate).
    *
    * 100 TB shape: [[spanExact]]'s pipeline plus one map-side-combined
    * 1-row rollup per side and a broadcast join of two 1-row frames. */
  def spanSavings(documents: DataFrame): DataFrame = {
    val tok = Tables.spread(documents).agg(
      count(lit(1)).as("n_docs"),
      sum(size(split(col("text"), " ")).cast("long")).as("tokens_total"))
    val sp = mergedSpans(coveredPositions(documents)).agg(
      countDistinct("doc_id").as("n_spanned_docs"),
      count(lit(1)).as("n_spans"),
      coalesce(sum(col("e") - col("s")), lit(0L)).as("tokens_in_spans"))
    tok.crossJoin(broadcast(sp))
      .select(col("n_docs"), col("tokens_total"), col("n_spanned_docs"),
        col("n_spans"), col("tokens_in_spans"),
        round(col("tokens_in_spans").cast("double") / col("tokens_total"), 6)
          .as("span_coverage_rate"))
  }

  /** Span-duplication provenance per source — [[sourceAttribution]]'s
    * twin at the substring grain (completing the family's ops-evidence
    * set beside savings/apply/probe): which feed carries the repeated
    * ≥[[MinSpanTokens]]-token mass, i.e. where the [[spanApply]] rewrite
    * will actually cut. A crawl whose span_coverage_rate spikes against
    * the corpus's base rate is shipping templated or lifted content —
    * the per-source alarm the one-row [[spanSavings]] headline cannot
    * localize. Output one row per source: (source, n_docs,
    * n_spanned_docs, tokens_total, tokens_in_spans, span_coverage_rate);
    * per-source rates tile exactly — Σ tokens_in_spans over sources ==
    * [[spanSavings]].tokens_in_spans (CrossOpInvariantSpec).
    *
    * 100 TB shape: the covered-position pipeline (the corpus shuffles
    * 8-byte hashes), the per-doc union ledger rolled doc_id-local, ONE
    * broadcastable doc_id→mass join back to the scan, and two
    * map-side-combined ≤|sources|-row rollups. */
  def spanAttribution(documents: DataFrame): DataFrame = {
    val docs = Tables.spread(documents)
    val tok = docs.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(size(split(col("text"), " ")).cast("long")).as("tokens_total"))
    val perDoc = mergedSpans(coveredPositions(documents))
      .groupBy("doc_id").agg(sum(col("e") - col("s")).as("doc_span_tokens"))
    val sp = docs.select("doc_id", "source").join(perDoc, "doc_id")
      .groupBy("source").agg(
        count(lit(1)).as("n_spanned_docs"),
        sum("doc_span_tokens").as("tokens_in_spans"))
    tok.join(sp, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_spanned_docs"), lit(0L)).as("n_spanned_docs"),
        col("tokens_total"),
        coalesce(col("tokens_in_spans"), lit(0L)).as("tokens_in_spans"),
        round(coalesce(col("tokens_in_spans"), lit(0L)).cast("double")
          / col("tokens_total"), 6).as("span_coverage_rate"))
  }

  /** EXECUTE the span rewrite [[spanSavings]] prices — the plan→apply
    * pairing of the mix/pack/dsir families at the substring-dedup grain:
    * emit the corpus with every token inside an exactly-repeated
    * ≥[[MinSpanTokens]]-token span removed. Removal semantics follow Lee
    * et al. 2022's released ExactSubstr tool, which drops EVERY
    * occurrence of a duplicated span (not all-but-one — the paper notes
    * the difference doesn't matter in practice), so the removed token
    * mass per doc is exactly its [[mergedSpans]] union interval mass and
    * `sum(n_removed)` == [[spanSavings]].tokens_in_spans exactly
    * (CrossOpInvariantSpec). One row per input document:
    * (doc_id, n_tokens, n_removed, text_out) — text_out is the
    * remaining tokens re-joined in order ('' when fully covered).
    *
    * 100 TB shape: the covered-position pipeline (corpus shuffles
    * 8-byte hashes), the per-doc interval ledger grouped doc_id-local,
    * then ONE equi-join of documents against the tiny span ledger and a
    * codegen'd higher-order `aggregate` that slices the kept gaps out of
    * the token array — no token-grain explode, no range join, no second
    * pass over text. */
  def spanApply(documents: DataFrame): DataFrame = {
    val perDoc = mergedSpans(coveredPositions(documents))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("spans"))
    val toks = split(col("text"), " ")
    Tables.spread(documents)
      .select(col("doc_id"), toks.as("t"), size(toks).cast("long").as("n_tok"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("spans", coalesce(col("spans"),
        expr("CAST(array() AS ARRAY<STRUCT<s: BIGINT, e: BIGINT>>)")))
      .withColumn("kept", expr(
        s"""aggregate(spans,
           |  struct(CAST(0 AS BIGINT) AS prev, CAST(array() AS ARRAY<STRING>) AS acc),
           |  (st, sp) -> struct(sp.e AS prev,
           |    concat(st.acc, slice(t, CAST(st.prev + 1 AS INT),
           |      CAST(sp.s - st.prev AS INT))) AS acc),
           |  st -> concat(st.acc, slice(t, CAST(st.prev + 1 AS INT),
           |    CAST(n_tok - st.prev AS INT))))""".stripMargin))
      .select(col("doc_id"), col("n_tok").as("n_tokens"),
        (col("n_tok") - size(col("kept")).cast("long")).as("n_removed"),
        concat_ws(" ", col("kept")).as("text_out"))
  }

  /** Cluster-size histogram over an already-clustered table — the
    * duplication report every curation run publishes next to the cluster
    * ledger: how many clusters of each size, how many documents they
    * absorb (singletons = unique docs; the tail tells you the dedup
    * rate). One row per distinct size: (cluster_size, n_clusters,
    * n_docs).
    *
    * 100 TB shape: consumes the session cluster artifact
    * ([[lshClusterArtifact]]) — a columnar id scan, never a re-cluster —
    * then two map-side-combined aggregations over id-sized rows. */
  def clusterStats(clusters: DataFrame): DataFrame =
    clusters.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the three audit queries ride the session signature artifact —
    // sign once, audit many (SigArtifactSpec pins artifact == inline)
    "dedup_band_profile"  -> ((s, d) => bandProfileFrom(sigArtifact(s, d)._2)),
    "dedup_threshold_histogram" -> ((s, d) => {
      val (withSig, bands) = sigArtifact(s, d)
      thresholdHistogramFrom(withSig, bands)
    }),
    "dedup_savings"       -> (dedupSavings _),
    "dedup_sig_calibration" -> ((s, d) => {
      val (withSig, bands) = sigArtifact(s, d)
      sigCalibrationFrom(withSig, bands)
    }),
    "dedup_near_attribution" -> (nearDupAttribution _),
    "dedup_source_attribution" -> ((s, d) =>
      sourceAttribution(Tables.documents(s, d))),
    "dedup_cluster_stats" -> ((s, d) =>
      clusterStats(lshClusterArtifact(s, d).select("doc_id", "cluster_id"))),
    "dedup_chunk_exact"   -> ((s, d) => chunkExact(Tables.documents(s, d))),
    "dedup_span_exact"    -> ((s, d) => spanExact(Tables.documents(s, d))),
    "dedup_span_savings"  -> ((s, d) => spanSavings(Tables.documents(s, d))),
    "dedup_span_apply"    -> ((s, d) => spanApply(Tables.documents(s, d))),
    "dedup_span_attribution" -> ((s, d) => spanAttribution(Tables.documents(s, d))),
    "dedup_span_probe"    -> ((s, d) => spanProbeSplit(Tables.documents(s, d))),
    "dedup_exact"         -> ((s, d) => exact(Tables.documents(s, d))),
    "dedup_exact_probe"   -> ((s, d) => exactProbe(Tables.documents(s, d))),
    // the two LSH-cluster consumers share the session cluster artifact
    // (cluster once, consume many — identical rows to minhashLsh)
    "dedup_minhash_lsh"   -> ((s, d) => lshClusterArtifact(s, d)),
    "dedup_simhash"       -> ((s, d) => simhashClusterArtifact(s, d)),
    "dedup_ngram_jaccard" -> ((s, d) => ngramJaccardArtifact(s, d)),
    "dedup_minhash_incremental" -> ((s, d) => minhashLshIncrementalArtifact(s, d)),
    "dedup_containment"   -> ((s, d) => containmentArtifact(s, d)),
    // the edit-distance faces share the session pair/cluster artifacts
    // (verify once, close once — identical rows to the inline faces)
    "dedup_edit_distance" -> ((s, d) => editBestMatchFrom(
      editPairArtifact(s, d), Tables.documents(s, d).select("doc_id"))),
    "dedup_edit_clusters" -> ((s, d) => editClusterArtifact(s, d)),
    "dedup_quality_keeper" -> ((s, d) => qualityKeeperFrom(
      lshClusterArtifact(s, d).select("doc_id", "cluster_id"),
      Tables.documents(s, d))),
  )

  // ---- DuckDB oracles ------------------------------------------------------

  /** DuckDB shingle CTEs over an input relation named `reps`/`documents` —
    * the SQL mirror of [[wordShingles]]. Package-visible with parametric k
    * and relation names so [[Corpus.decontaminate]]'s oracle reuses the
    * same shingle definition at its longer k. */
  private[operators] def shingleWith(src: String, k: Int = ShingleSize,
                                     toksRel: String = "toks", shRel: String = "sh") =
    s"""$toksRel AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM $src),
       | $shRel AS (SELECT doc_id, CASE WHEN len(t) >= $k
       |   THEN list_distinct(list_transform(range(len(t) - ${k - 1}),
       |        i -> array_to_string(t[i + 1 : i + $k], ' ')))
       |   ELSE [text] END AS sh FROM $toksRel)""".stripMargin

  /** Exact-dup pre-collapse CTEs shared by the minhash/simhash oracles. */
  private val repsWith =
    """docs AS (SELECT doc_id, text, md5(text) AS sha FROM documents),
      | repid AS (SELECT sha, MIN(doc_id) AS rep FROM docs GROUP BY sha),
      | reps AS (SELECT r.rep AS doc_id, d.text FROM repid r
      |   JOIN docs d ON d.doc_id = r.rep),
      | docrep AS (SELECT d.doc_id, r.rep FROM docs d JOIN repid r ON d.sha = r.sha)""".stripMargin

  /** Candidate pairs from banded keys with the bucket cap, closure over the
    * verified edge relation `edges(a, b)`, and the final expand-to-all-docs
    * select — shared tail of both fuzzy-dedup oracles. */
  private val closureTail =
    s"""und AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
       | reach(src, dst) AS (
       |   SELECT a, b FROM und
       |   UNION
       |   SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a),
       | comp AS (SELECT v.doc_id AS id,
       |     LEAST(v.doc_id, COALESCE(MIN(r.dst), v.doc_id)) AS component
       |   FROM reps v LEFT JOIN reach r ON r.src = v.doc_id GROUP BY v.doc_id),
       | labeled AS (SELECT dr.doc_id, c.component AS cluster_id
       |   FROM docrep dr JOIN comp c ON dr.rep = c.id),
       | sizes AS (SELECT cluster_id, COUNT(*) AS sz FROM labeled GROUP BY cluster_id)""".stripMargin

  /** Edit blocking + thresholded verification ending in relation
    * `ver(a, b, dist)` — ONE text shared by the best-match and cluster
    * oracles so the blocking geometry cannot drift. (No continuation
    * line may START with `||`: this builder is embedded in outer
    * `stripMargin` strings, and a second strip would eat one pipe.) */
  private def editVerSqlWith: String =
    s"""elig AS (SELECT doc_id, text, length(text) AS len
       |   FROM documents WHERE length(text) <= $MaxEditLen),
       | bands AS (SELECT doc_id, 0 AS band,
       |     s.side || ':' || CAST((len // $EditLenBucket) + o.off AS VARCHAR) || ':' ||
       |       CASE WHEN s.side = 'p' THEN left(text, $EditAffix)
       |            ELSE right(text, $EditAffix) END AS bkey
       |   FROM elig, (VALUES ('p'), ('s')) s(side), (VALUES (0), (1)) o(off)),
       | ${cappedPairsSql("bands")},
       | ver AS (SELECT c.a, c.b, levenshtein(x.text, y.text) AS dist
       |   FROM cand c JOIN elig x ON x.doc_id = c.a
       |   JOIN elig y ON y.doc_id = c.b
       |   WHERE abs(x.len - y.len) <= $MaxEditDistance
       |     AND levenshtein(x.text, y.text) <= $MaxEditDistance)""".stripMargin

  private def cappedPairsSql(bandsRel: String) =
    s"""okb AS (SELECT band, bkey FROM $bandsRel GROUP BY band, bkey
       |   HAVING COUNT(*) BETWEEN 2 AND $MaxBandBucket),
       | cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |   FROM $bandsRel x
       |   JOIN okb o ON x.band = o.band AND x.bkey = o.bkey
       |   JOIN $bandsRel y ON y.band = x.band AND y.bkey = x.bkey
       |   WHERE x.doc_id < y.doc_id)""".stripMargin

  private def seedsValues: String =
    (0 until NumHashes).map(i => s"(${i}, ${seedA(i)}, ${seedB(i)})").mkString(", ")

  /** MinHash CTE chain over the `sh` relation (from [[shingleWith]]):
    * hashed shingle sets → per-seed minima → ordered signatures → banded
    * keys. One SQL mirror of [[signaturePipeline]], shared by the batch
    * and incremental oracles so they cannot drift. */
  private[operators] def minhashBandsSqlWith: String =
    s"""hsd AS (SELECT doc_id, list_distinct(list_transform(sh,
       |     s -> ${h32Sql("s")} % $P)) AS sh FROM sh),
       | hsx AS (SELECT doc_id, unnest(sh) AS x FROM hsd),
       | seeds(i, a, b) AS (VALUES $seedsValues),
       | sigl AS (SELECT doc_id, s.i, MIN((s.a * x + s.b) % $P) AS v
       |   FROM hsx CROSS JOIN seeds s GROUP BY doc_id, s.i),
       | sig AS (SELECT doc_id, list(v ORDER BY i) AS sig FROM sigl GROUP BY doc_id),
       | bands AS (SELECT doc_id, j AS band,
       |     list_reduce(list_prepend(j, list_slice(sig, j*$RowsPerBand + 1,
       |       j*$RowsPerBand + $RowsPerBand)), (a, b) -> (a*31 + b) % $P) AS bkey
       |   FROM sig CROSS JOIN range($Bands) t(j))""".stripMargin

  /** Signature-agreement estimate + exact-Jaccard verify over the `cand`
    * relation — the SQL mirror of [[verifyCandidates]],
    * shared by both MinHash oracles. */
  private[operators] def sigEstVerSqlWith: String =
    s"""est AS (SELECT c.a, c.b FROM cand c
       |   JOIN sig x ON x.doc_id = c.a JOIN sig y ON y.doc_id = c.b
       |   WHERE len(list_filter(range(${NumHashes}),
       |     i -> x.sig[i + 1] = y.sig[i + 1])) >= $MinSigMatches),
       | ver AS (SELECT c.a, c.b,
       |     CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
       |       (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
       |   FROM est c JOIN hsd sa ON sa.doc_id = c.a JOIN hsd sb ON sb.doc_id = c.b)""".stripMargin

  /** DuckDB mirror of [[spanGrams]] — the positional gram-hash CTE chain
    * (no leading WITH), stated ONCE and shared by [[spanExactSql]] and
    * the `dedup_span_probe` oracle so the gram definition (tokenize,
    * range bound, slice, hash) cannot drift between the closed-corpus
    * and probe faces. */
  private val spanGramsSqlWith: String =
    s"""d AS (SELECT doc_id, string_split(text, ' ') AS t,
       |     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |   FROM documents),
       | g AS (SELECT doc_id, unnest(range(0, n_tok - $MinSpanTokens + 1)) AS pos, t
       |   FROM d WHERE n_tok >= $MinSpanTokens),
       | h AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       |     ${h32SqlOf(s"""array_to_string(t[CAST(pos + 1 AS INTEGER) :
         CAST(pos + $MinSpanTokens AS INTEGER)], ' ')""")} AS gh
       |   FROM g)""".stripMargin

  /** [[spanExact]]'s full DuckDB mirror — shared verbatim by the
    * `dedup_span_exact` oracle and `dedup_span_savings`' rollup (the
    * drift-proofing convention of [[shingleWith]]). */
  private val spanExactSql: String =
    s"""WITH $spanGramsSqlWith,
       | occ AS (SELECT gh, CAST(COUNT(*) AS BIGINT) AS n_occ
       |   FROM h GROUP BY 1 HAVING COUNT(*) > 1),
       | c AS (SELECT doc_id, pos, n_occ FROM h JOIN occ USING (gh)),
       | r AS (SELECT doc_id, pos, n_occ,
       |     pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |   FROM c)
       | SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
       |   CAST(MAX(pos) - MIN(pos) + $MinSpanTokens AS BIGINT) AS span_tokens,
       |   CAST(MIN(n_occ) AS BIGINT) AS min_occurrences,
       |   CAST(COUNT(*) AS BIGINT) AS n_positions
       | FROM r GROUP BY doc_id, grp""".stripMargin

  /** DuckDB mirror of [[mergedSpans]]∘[[coveredPositions]] — the CTE
    * chain from [[spanGramsSqlWith]]'s `h` relation to the disjoint
    * union token intervals `sp(doc_id, s, e)`, stated ONCE and shared
    * by the `dedup_span_savings` and `dedup_span_apply` oracles so the
    * union-merge geometry cannot drift between price and rewrite. */
  private val mergedSpansSqlWith: String =
    s"""occ2 AS (SELECT gh FROM h GROUP BY gh HAVING COUNT(*) > 1),
       | cov AS (SELECT doc_id, pos FROM h JOIN occ2 USING (gh)),
       | mrk AS (SELECT doc_id, pos,
       |     CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
       |       > $MinSpanTokens THEN 1 ELSE 0 END AS brk
       |   FROM cov),
       | isl AS (SELECT doc_id, pos,
       |     SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |   FROM mrk),
       | sp AS (SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS s,
       |     CAST(MAX(pos) + $MinSpanTokens AS BIGINT) AS e
       |   FROM isl GROUP BY doc_id, grp)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "dedup_span_exact" -> spanExactSql,

    "dedup_span_savings" ->
      s"""WITH $spanGramsSqlWith,
         | $mergedSpansSqlWith,
         | tok AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |     CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens_total
         |   FROM documents),
         | agg AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_spanned_docs,
         |     CAST(COUNT(*) AS BIGINT) AS n_spans,
         |     CAST(COALESCE(SUM(e - s), 0) AS BIGINT) AS tokens_in_spans
         |   FROM sp)
         | SELECT n_docs, tokens_total, n_spanned_docs, n_spans, tokens_in_spans,
         |   round(CAST(tokens_in_spans AS DOUBLE) / tokens_total, 6)
         |     AS span_coverage_rate
         | FROM tok, agg""".stripMargin,

    "dedup_span_attribution" ->
      s"""WITH $spanGramsSqlWith,
         | $mergedSpansSqlWith,
         | tok AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |     CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens_total
         |   FROM documents GROUP BY source),
         | pd AS (SELECT doc_id, CAST(SUM(e - s) AS BIGINT) AS doc_span_tokens
         |   FROM sp GROUP BY doc_id),
         | agg AS (SELECT dd.source,
         |     CAST(COUNT(*) AS BIGINT) AS n_spanned_docs,
         |     CAST(SUM(pd.doc_span_tokens) AS BIGINT) AS tokens_in_spans
         |   FROM documents dd JOIN pd ON pd.doc_id = dd.doc_id
         |   GROUP BY dd.source)
         | SELECT tok.source, tok.n_docs,
         |   CAST(COALESCE(agg.n_spanned_docs, 0) AS BIGINT) AS n_spanned_docs,
         |   tok.tokens_total,
         |   CAST(COALESCE(agg.tokens_in_spans, 0) AS BIGINT) AS tokens_in_spans,
         |   round(CAST(COALESCE(agg.tokens_in_spans, 0) AS DOUBLE)
         |     / tok.tokens_total, 6) AS span_coverage_rate
         | FROM tok LEFT JOIN agg ON agg.source = tok.source""".stripMargin,

    "dedup_span_apply" ->
      s"""WITH $spanGramsSqlWith,
         | $mergedSpansSqlWith,
         | tk AS (SELECT doc_id, unnest(t) AS tok,
         |     CAST(unnest(range(len(t))) AS BIGINT) AS pos
         |   FROM d),
         | kept AS (SELECT tk.doc_id, tk.tok, tk.pos FROM tk
         |   WHERE NOT EXISTS (SELECT 1 FROM sp
         |     WHERE sp.doc_id = tk.doc_id AND tk.pos >= sp.s AND tk.pos < sp.e))
         | SELECT d.doc_id, d.n_tok AS n_tokens,
         |   CAST(d.n_tok - COUNT(k.pos) AS BIGINT) AS n_removed,
         |   COALESCE(string_agg(k.tok, ' ' ORDER BY k.pos), '') AS text_out
         | FROM d LEFT JOIN kept k ON k.doc_id = d.doc_id
         | GROUP BY d.doc_id, d.n_tok""".stripMargin,

    "dedup_span_probe" ->
      s"""WITH $spanGramsSqlWith,
         | ref AS (SELECT DISTINCT gh FROM h WHERE doc_id % $IncomingMod <> 0),
         | c AS (SELECT doc_id, pos FROM h JOIN ref USING (gh)
         |   WHERE doc_id % $IncomingMod = 0),
         | r AS (SELECT doc_id, pos,
         |     pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |   FROM c)
         | SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
         |   CAST(MAX(pos) - MIN(pos) + $MinSpanTokens AS BIGINT) AS span_tokens,
         |   CAST(COUNT(*) AS BIGINT) AS n_positions
         | FROM r GROUP BY doc_id, grp""".stripMargin,

    "dedup_chunk_exact" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t,
         |     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
         |   FROM documents),
         | c AS (SELECT doc_id, t, n_tok, unnest(range(0,
         |     CASE WHEN n_tok <= ${Corpus.ChunkTokens} THEN 1
         |          ELSE (n_tok - ${Corpus.ChunkTokens} + ${Corpus.ChunkStride} - 1)
         |               // ${Corpus.ChunkStride} + 1
         |     END)) AS chunk_idx
         |   FROM d),
         | h AS (SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         |     ${h32SqlOf(s"""array_to_string(t[CAST(chunk_idx * ${Corpus.ChunkStride} + 1 AS INTEGER) :
           CAST(chunk_idx * ${Corpus.ChunkStride}
             + LEAST(${Corpus.ChunkTokens}, n_tok - chunk_idx * ${Corpus.ChunkStride}) AS INTEGER)], ' ')""")}
         |       AS chunk_hash
         |   FROM c),
         | occ AS (SELECT chunk_hash, COUNT(*) AS n FROM h GROUP BY 1)
         | SELECT doc_id, chunk_idx, chunk_hash,
         |   CAST(occ.n AS BIGINT) AS n_occurrences, occ.n > 1 AS duplicated
         | FROM h JOIN occ USING (chunk_hash)""".stripMargin,

    "dedup_exact" ->
      """SELECT sha256(text) AS content_sha, CAST(MIN(doc_id) AS BIGINT) AS doc_id,
        | CAST(COUNT(*) AS BIGINT) AS n_copies FROM documents GROUP BY sha256(text)""".stripMargin,

    "dedup_exact_probe" ->
      s"""WITH led AS (SELECT doc_id AS src_id, text FROM documents),
         | m AS (SELECT d.doc_id, led.text
         |   FROM (SELECT doc_id, doc_id - doc_id % $ExactProbeGroup AS src_id
         |     FROM documents) d
         |   JOIN led USING (src_id))
         | SELECT sha256(text) AS content_sha, CAST(MIN(doc_id) AS BIGINT) AS doc_id,
         |   CAST(COUNT(*) AS BIGINT) AS n_copies FROM m GROUP BY sha256(text)""".stripMargin,

    "dedup_source_attribution" ->
      """WITH d AS (SELECT doc_id, source, md5(text) AS sha FROM documents),
        | w AS (SELECT *, COUNT(*) OVER (PARTITION BY sha) AS n_copies FROM d),
        | g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |     CAST(COUNT(DISTINCT sha) AS BIGINT) AS n_unique_texts,
        |     CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |       AS n_dup_docs
        |   FROM w GROUP BY source)
        | SELECT source, n_docs, n_unique_texts, n_dup_docs,
        |   round(CAST(n_dup_docs AS DOUBLE) / n_docs, 6) AS dup_rate
        | FROM g""".stripMargin,

    "dedup_band_profile" ->
      s"""WITH $repsWith,
         | ${shingleWith("reps")},
         | $minhashBandsSqlWith,
         | bz AS (SELECT band, bkey, CAST(COUNT(*) AS BIGINT) AS bsz
         |   FROM bands GROUP BY 1, 2)
         | SELECT CAST(band AS BIGINT) AS band,
         |   CAST(COUNT(*) AS BIGINT) AS n_buckets,
         |   CAST(SUM(bsz) AS BIGINT) AS n_docs,
         |   CAST(MAX(bsz) AS BIGINT) AS max_bucket,
         |   CAST(SUM(CASE WHEN bsz BETWEEN 2 AND $MaxBandBucket
         |     THEN bsz * (bsz - 1) // 2 ELSE 0 END) AS BIGINT) AS n_cand_pairs,
         |   CAST(SUM(CASE WHEN bsz > $MaxBandBucket THEN 1 ELSE 0 END)
         |     AS BIGINT) AS n_capped
         | FROM bz GROUP BY band""".stripMargin,

    "dedup_near_attribution" ->
      s"""WITH RECURSIVE $repsWith,
         | ${shingleWith("reps")},
         | $minhashBandsSqlWith,
         | ${cappedPairsSql("bands")},
         | $sigEstVerSqlWith,
         | edges AS (SELECT a, b FROM ver WHERE jaccard >= $JaccardThreshold),
         | $closureTail,
         | nd AS (SELECT l.doc_id, s.sz - 1 AS n_dups, d.source
         |   FROM labeled l JOIN sizes s ON l.cluster_id = s.cluster_id
         |   JOIN documents d ON d.doc_id = l.doc_id)
         | SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |   CAST(SUM(CASE WHEN n_dups > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |     AS n_near_dup_docs,
         |   round(CAST(SUM(CASE WHEN n_dups > 0 THEN 1 ELSE 0 END) AS DOUBLE)
         |     / COUNT(*), 6) AS near_dup_rate
         | FROM nd GROUP BY source""".stripMargin,

    "dedup_sig_calibration" ->
      s"""WITH $repsWith,
         | ${shingleWith("reps")},
         | $minhashBandsSqlWith,
         | ${cappedPairsSql("bands")},
         | sc AS (SELECT len(list_filter(range($NumHashes),
         |       i -> x.sig[i + 1] = y.sig[i + 1])) AS agree,
         |     len(list_intersect(sa.sh, sb.sh)) AS inter,
         |     len(sa.sh) + len(sb.sh) AS szsum
         |   FROM cand c JOIN sig x ON x.doc_id = c.a
         |   JOIN sig y ON y.doc_id = c.b
         |   JOIN hsd sa ON sa.doc_id = c.a
         |   JOIN hsd sb ON sb.doc_id = c.b),
         | bk AS (SELECT CAST(agree // 8 AS BIGINT) AS est_bucket,
         |     CAST(inter AS DOUBLE) / (szsum - inter) AS j FROM sc)
         | SELECT est_bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |   round(AVG(j), 6) AS mean_jaccard
         | FROM bk GROUP BY est_bucket""".stripMargin,

    "dedup_savings" ->
      s"""WITH RECURSIVE $repsWith,
         | ${shingleWith("reps")},
         | $minhashBandsSqlWith,
         | ${cappedPairsSql("bands")},
         | $sigEstVerSqlWith,
         | edges AS (SELECT a, b FROM ver WHERE jaccard >= $JaccardThreshold),
         | $closureTail,
         | tok AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT)
         |     AS n_tok FROM documents),
         | kp AS (SELECT cluster_id, MIN(doc_id) AS keeper
         |   FROM labeled GROUP BY 1),
         | j AS (SELECT l.doc_id, l.doc_id = kp.keeper AS kept, t.n_tok
         |   FROM labeled l JOIN kp USING (cluster_id)
         |   JOIN tok t ON t.doc_id = l.doc_id)
         | SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |   CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_clusters,
         |   CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |   CAST(SUM(n_tok) AS BIGINT) AS tokens_total,
         |   CAST(SUM(CASE WHEN kept THEN n_tok ELSE 0 END) AS BIGINT)
         |     AS tokens_kept,
         |   round(1.0 - CAST(SUM(CASE WHEN kept THEN n_tok ELSE 0 END)
         |     AS DOUBLE) / SUM(n_tok), 6) AS savings_rate
         | FROM j""".stripMargin,

    "dedup_threshold_histogram" ->
      s"""WITH $repsWith,
         | ${shingleWith("reps")},
         | $minhashBandsSqlWith,
         | ${cappedPairsSql("bands")},
         | $sigEstVerSqlWith,
         | h AS (SELECT CAST(floor(round(jaccard * 10, 6)) AS BIGINT)
         |     AS j_bucket FROM ver)
         | SELECT j_bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |   j_bucket >= ${math.round(JaccardThreshold * 10)} AS clusters
         | FROM h GROUP BY j_bucket""".stripMargin,

    "dedup_minhash_lsh" ->
      s"""WITH RECURSIVE $repsWith,
         | ${shingleWith("reps")},
         | $minhashBandsSqlWith,
         | ${cappedPairsSql("bands")},
         | $sigEstVerSqlWith,
         | edges AS (SELECT a, b FROM ver WHERE jaccard >= $JaccardThreshold),
         | $closureTail
         | SELECT l.doc_id, l.cluster_id, CAST(s.sz - 1 AS BIGINT) AS n_dups
         | FROM labeled l JOIN sizes s ON l.cluster_id = s.cluster_id""".stripMargin,

    "dedup_cluster_stats" ->
      s"""WITH RECURSIVE $repsWith,
         | ${shingleWith("reps")},
         | $minhashBandsSqlWith,
         | ${cappedPairsSql("bands")},
         | $sigEstVerSqlWith,
         | edges AS (SELECT a, b FROM ver WHERE jaccard >= $JaccardThreshold),
         | $closureTail
         | SELECT CAST(sz AS BIGINT) AS cluster_size,
         |   CAST(COUNT(*) AS BIGINT) AS n_clusters,
         |   CAST(sz * COUNT(*) AS BIGINT) AS n_docs
         | FROM sizes GROUP BY sz""".stripMargin,

    "dedup_quality_keeper" ->
      s"""WITH RECURSIVE $repsWith,
         | ${shingleWith("reps")},
         | $minhashBandsSqlWith,
         | ${cappedPairsSql("bands")},
         | $sigEstVerSqlWith,
         | edges AS (SELECT a, b FROM ver WHERE jaccard >= $JaccardThreshold),
         | $closureTail,
         | ${TextAnalysis.qualityScoreSqlWith},
         | cl AS (SELECT l.doc_id, l.cluster_id, q.quality_score AS q
         |   FROM labeled l JOIN qscore q ON q.doc_id = l.doc_id),
         | km AS (SELECT cluster_id, MAX(q) AS mq FROM cl GROUP BY cluster_id),
         | kp AS (SELECT cl.cluster_id, MIN(cl.doc_id) AS keeper_id FROM cl
         |   JOIN km ON cl.cluster_id = km.cluster_id AND cl.q = km.mq
         |   GROUP BY cl.cluster_id)
         | SELECT cl.doc_id, cl.cluster_id, kp.keeper_id,
         |   cl.doc_id = kp.keeper_id AS keep
         | FROM cl JOIN kp ON cl.cluster_id = kp.cluster_id""".stripMargin,

    "dedup_simhash" ->
      s"""WITH RECURSIVE $repsWith,
         | tokh AS (SELECT doc_id, unnest(list_transform(string_split(text, ' '),
         |     s -> ${h60Sql("s")})) AS h FROM reps),
         | votes AS (SELECT doc_id, i,
         |     SUM(CASE WHEN (h >> CAST(i AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS v
         |   FROM tokh CROSS JOIN range($SimhashBits) t(i) GROUP BY doc_id, i),
         | simh AS (SELECT doc_id,
         |     CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << CAST(i AS INTEGER)) ELSE 0 END) AS BIGINT) AS simhash
         |   FROM votes GROUP BY doc_id),
         | bands AS (SELECT doc_id, j AS band,
         |     (simhash >> CAST($SimhashBandBits*j AS INTEGER)) & ${(1L << SimhashBandBits) - 1} AS bkey
         |   FROM simh CROSS JOIN range($SimhashBands) t(j)),
         | ${cappedPairsSql("bands")},
         | edges AS (SELECT c.a, c.b FROM cand c
         |   JOIN simh x ON x.doc_id = c.a JOIN simh y ON y.doc_id = c.b
         |   WHERE bit_count(xor(x.simhash, y.simhash)) <= $SimhashHammingMax),
         | $closureTail,
         | allsim AS (SELECT dr.doc_id, s.simhash FROM docrep dr
         |   JOIN simh s ON s.doc_id = dr.rep)
         | SELECT l.doc_id, a.simhash, l.cluster_id, CAST(s.sz - 1 AS BIGINT) AS n_near
         | FROM labeled l JOIN sizes s ON l.cluster_id = s.cluster_id
         | JOIN allsim a ON a.doc_id = l.doc_id""".stripMargin,

    "dedup_minhash_incremental" ->
      s"""WITH crep AS (SELECT md5(text) AS sha, MIN(doc_id) AS keeper
         |   FROM documents WHERE doc_id % $IncomingMod <> 0 GROUP BY md5(text)),
         | basedocs AS (SELECT doc_id, text FROM documents WHERE doc_id % $IncomingMod = 0
         |   UNION ALL SELECT d.doc_id, d.text FROM documents d
         |     JOIN crep ON d.doc_id = crep.keeper),
         | ${shingleWith("basedocs")},
         | $minhashBandsSqlWith,
         | cb AS (SELECT * FROM bands WHERE doc_id % $IncomingMod <> 0),
         | ib AS (SELECT * FROM bands WHERE doc_id % $IncomingMod = 0),
         | okb AS (SELECT band, bkey FROM cb GROUP BY band, bkey
         |   HAVING COUNT(*) <= $MaxBandBucket),
         | cand AS (SELECT DISTINCT i.doc_id AS a, c.doc_id AS b
         |   FROM ib i
         |   JOIN okb o ON i.band = o.band AND i.bkey = o.bkey
         |   JOIN cb c ON c.band = i.band AND c.bkey = i.bkey),
         | $sigEstVerSqlWith,
         | hits AS (SELECT a, b, jaccard FROM ver WHERE jaccard >= $JaccardThreshold),
         | best AS (SELECT a AS doc_id, b AS match_id, jaccard AS match_jaccard FROM (
         |   SELECT *, ROW_NUMBER() OVER (PARTITION BY a
         |     ORDER BY jaccard DESC, b ASC) AS rn FROM hits) WHERE rn = 1)
         | SELECT d.doc_id, best.match_id, best.match_jaccard
         | FROM (SELECT doc_id FROM documents WHERE doc_id % $IncomingMod = 0) d
         | LEFT JOIN best ON d.doc_id = best.doc_id""".stripMargin,

    "dedup_edit_distance" ->
      s"""WITH $editVerSqlWith,
         | nbrs AS (SELECT a AS doc_id, b AS other, dist FROM ver
         |   UNION ALL SELECT b, a, dist FROM ver),
         | best AS (SELECT doc_id, other, dist FROM (
         |   SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |     ORDER BY dist ASC, other ASC) AS rn FROM nbrs) WHERE rn = 1)
         | SELECT d.doc_id, best.other AS best_match,
         |   CAST(best.dist AS INTEGER) AS best_distance
         | FROM (SELECT doc_id FROM documents) d
         | LEFT JOIN best ON d.doc_id = best.doc_id""".stripMargin,

    "dedup_edit_clusters" ->
      s"""WITH RECURSIVE $editVerSqlWith,
         | und AS (SELECT a, b FROM ver UNION SELECT b, a FROM ver),
         | reach(src, dst) AS (
         |   SELECT a, b FROM und
         |   UNION
         |   SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a),
         | comp AS (SELECT d.doc_id,
         |     LEAST(d.doc_id, COALESCE(MIN(r.dst), d.doc_id)) AS cluster_id
         |   FROM (SELECT doc_id FROM documents) d
         |   LEFT JOIN reach r ON r.src = d.doc_id GROUP BY d.doc_id),
         | sizes AS (SELECT cluster_id, COUNT(*) AS sz FROM comp
         |   GROUP BY cluster_id)
         | SELECT c.doc_id, c.cluster_id, CAST(s.sz - 1 AS BIGINT) AS n_dups
         | FROM comp c JOIN sizes s ON s.cluster_id = c.cluster_id""".stripMargin,

    "dedup_containment" ->
      s"""WITH ${shingleWith("documents")},
         | hsd AS (SELECT doc_id, list_distinct(list_transform(sh,
         |     s -> ${h32Sql("s")} % $P)) AS sh FROM sh),
         | inv AS (SELECT doc_id, unnest(sh) AS s FROM hsd),
         | keep AS (SELECT s FROM inv GROUP BY s HAVING COUNT(*) BETWEEN 2 AND $MaxShingleDf),
         | inv2 AS (SELECT inv.doc_id, inv.s FROM inv JOIN keep ON inv.s = keep.s),
         | cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |   FROM inv2 x JOIN inv2 y ON x.s = y.s AND x.doc_id < y.doc_id),
         | ver AS (SELECT c.a, c.b,
         |   CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / len(sa.sh) AS c_ab,
         |   CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / len(sb.sh) AS c_ba
         |   FROM cand c JOIN hsd sa ON sa.doc_id = c.a JOIN hsd sb ON sb.doc_id = c.b),
         | nbrs AS (SELECT a AS doc_id, b AS other, c_ab AS c FROM ver
         |   UNION ALL SELECT b, a, c_ba FROM ver),
         | best AS (SELECT doc_id, other, c FROM (
         |   SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |     ORDER BY c DESC, other ASC) AS rn FROM nbrs) WHERE rn = 1)
         | SELECT d.doc_id, best.other AS best_match, best.c AS best_containment
         | FROM (SELECT doc_id FROM documents) d
         | LEFT JOIN best ON d.doc_id = best.doc_id""".stripMargin,

    "dedup_ngram_jaccard" ->
      s"""WITH ${shingleWith("documents")},
         | hsd AS (SELECT doc_id, list_distinct(list_transform(sh,
         |     s -> ${h32Sql("s")} % $P)) AS sh FROM sh),
         | inv AS (SELECT doc_id, unnest(sh) AS s FROM hsd),
         | keep AS (SELECT s FROM inv GROUP BY s HAVING COUNT(*) BETWEEN 2 AND $MaxShingleDf),
         | inv2 AS (SELECT inv.doc_id, inv.s FROM inv JOIN keep ON inv.s = keep.s),
         | cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |   FROM inv2 x JOIN inv2 y ON x.s = y.s AND x.doc_id < y.doc_id),
         | ver AS (SELECT c.a, c.b,
         |   CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
         |     (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
         |   FROM cand c JOIN hsd sa ON sa.doc_id = c.a JOIN hsd sb ON sb.doc_id = c.b),
         | nbrs AS (SELECT a AS doc_id, b AS other, jaccard FROM ver
         |   UNION ALL SELECT b, a, jaccard FROM ver),
         | best AS (SELECT doc_id, other, jaccard FROM (
         |   SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |     ORDER BY jaccard DESC, other ASC) AS rn FROM nbrs) WHERE rn = 1)
         | SELECT d.doc_id, best.other AS best_match, best.jaccard AS best_jaccard
         | FROM (SELECT doc_id FROM documents) d
         | LEFT JOIN best ON d.doc_id = best.doc_id""".stripMargin,
  )
}
