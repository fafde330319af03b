package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Artifacts, Staging}
import graft.sources.Tables

/** Similarity search over the `embeddings` table (vec_id, embedding
  * float[64], label) — training-data-pipeline extension surface
  * (BASELINE.json north star; no counterpart in the reference).
  *
  * Four operators:
  *   - [[cosineTopK]]: exact brute-force top-k — the correctness baseline.
  *     The query side is tiny (fixed id set) and broadcast; the big side
  *     streams through one pass. O(Q·N) work but no shuffle of the corpus.
  *   - [[annLshTopK]]: a 100 TB scale path — random-hyperplane (sign) LSH
  *     with banded multi-probe: candidates only where a query and a corpus
  *     vector share a signature band, then exact cosine on candidates.
  *   - [[ivfTopK]]: the other classic scale path — centroid assignment once,
  *     probe the nearest NProbe lists per query.
  *   - [[embeddingDedup]]: embedding-cosine near-duplicate clustering (the
  *     vector-space member of the [[Dedup]] family).
  *
  * All vector math is `zip_with`/`aggregate` higher-order expressions over
  * array<double> — no UDFs. (Higher-order expressions are CodegenFallback
  * in Spark, but evaluate as single-pass array folds; the joins and
  * aggregations around them are fully codegen'd.)
  */
object Similarity {

  val TopK = 5
  val NumQueryVectors = 10
  val SignatureBits = 32
  val BandsPerSignature = 8 // 8 bands x 4 bits: multi-probe for recall

  // ---- embedding near-dup dedup parameters ----------------------------------
  /** Cosine threshold for "near-duplicate". Calibrated to the synthetic
    * corpus, whose vectors are near-orthogonal (max pairwise cosine ≈ 0.5-0.6
    * — a production corpus dedups at ≥0.9, where the SAME band shape gets
    * sharper, not weaker: band-agreement probability is (1-θ/π)^bits). */
  val CosDupThreshold = 0.42
  /** 10 bands × 6 sign bits (60 deterministic hyperplanes). 6-bit bands =
    * 64 bucket values per band: wide enough that uniform data stays under
    * [[MaxVecBucket]] (no quadratic blowup), narrow enough that a
    * 0.42-cosine pair shares ≥1 band with p ≈ 0.75. */
  val DedupPlanes = 60
  val DedupBands = 10
  /** A band bucket with more distinct vectors than this generates no pairs —
    * the same skew guard as [[Dedup.MaxBandBucket]]: bounded join fan-out on
    * any data distribution, recall traded for it (mirrored in the oracle). */
  val MaxVecBucket = 64

  // ---- IVF parameters --------------------------------------------------------
  /** Deterministic stand-in for a trained codebook: the first
    * [[NumCentroids]] corpus vectors by id. At scale the codebook comes from
    * a k-means sample; everything downstream is unchanged. */
  val NumCentroids = 16
  val NProbe = 4

  /** Sequential left-to-right dot product (matches DuckDB
    * list_dot_product order) — a native codegen'd Catalyst expression
    * ([[graft.functions.DotProduct]]), not an interpreted higher-order
    * fold. */
  def dot(a: Column, b: Column): Column = graft.functions.DotProduct.of(a, b)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Zero-norm vectors cannot participate in cosine similarity — drop
    * them at corpus load, on BOTH engines (the oracle mirrors carry the
    * same predicate in their normed-vector CTEs). Without the guard a
    * single all-zero embedding — routine in a real 100 TB corpus (failed
    * encoder call, padding row) — turns cosine into 0/0: ANSI Spark
    * throws DIVIDE_BY_ZERO, DuckDB yields NULL, and the two engines
    * diverge (found by the FuzzGen zeroNormVecs knob, round 15). */
  private def dropZeroNorm(vs: DataFrame): DataFrame =
    vs.where(col("nrm") > 0)

  private def vectors(spark: SparkSession, sfDir: String): DataFrame =
    dropZeroNorm(Tables.spread(Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", l2norm(col("v"))))

  /** Exact brute-force cosine top-k: the first [[NumQueryVectors]] vec_ids
    * are the query set; rank all others by cosine similarity. Output one row
    * per (query, rank<=k): (query_id, neighbor_id, rank, cosine_sim). */
  def cosineTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val vs = vectors(spark, sfDir)
    exactCosineProbe(vs, vs.where(col("vec_id") < NumQueryVectors)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn")))
  }

  /** The brute-force cosine probe core — any (vec_id, v, nrm) corpus
    * against any broadcastable (query_id, qv, qn) query block, bounded
    * [[topKPerQuery]] finisher. [[cosineTopK]]'s body, exposed so the
    * cross-modal referee scores the SAME arithmetic over its
    * modality-filtered sides. */
  def exactCosineProbe(corpus: DataFrame, queries: DataFrame): DataFrame =
    topKPerQuery(corpus.join(broadcast(queries),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (dot(col("v"), col("qv")) / (col("nrm") * col("qn"))).as("cosine_sim")))

  /** Bounded per-group top-k via [[graft.functions.TopKByScore]]: map-side
    * partial aggregation keeps ≤k candidates per (partition, query) before
    * the shuffle — the scale-correct finisher (VERDICT r1: the former
    * `row_number` window sorted the whole scored corpus in #query
    * partitions). */
  private def topKPerQuery(scored: DataFrame): DataFrame =
    graft.functions.TopKByScore.perGroup(scored, TopK)

  /** Ground-truth referee artifact — the exact top-[[TopK]] neighbor list
    * of the standard query block, as (query_id, neighbor_id) id pairs
    * (longs: round-trips parquet exactly). SEVEN registered recall/curve
    * referees each recomputed this same exact ranking per run; it is a
    * classic train-once table (the published "ground truth" file an ANN
    * benchmark ships), so it follows the [[pairCosineArtifact]] durable
    * convention: built at most once per corpus generation, reopened as a
    * columnar scan by every referee. `kind` picks the metric the exact
    * ranking uses — "cos" (cosine, [[cosineTopK]]'s ranking) or "l2"
    * (negative squared L2, [[recallVsExact]]'s ranking). */
  def exactRefereeArtifact(spark: SparkSession, sfDir: String,
                           kind: String): DataFrame = {
    require(kind == "cos" || kind == "l2", s"unknown referee kind '$kind'")
    val path = graft.engine.Artifacts.durable(spark, s"simref-$kind", sfDir) { tmp =>
      val vs = vectors(spark, sfDir)
      val queries = vs.where(col("vec_id") < NumQueryVectors)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("nrm").as("qn"))
      val score =
        if (kind == "cos") dot(col("v"), col("qv")) / (col("nrm") * col("qn"))
        else -dist2(col("v"), col("qv"))
      topKPerQuery(vs.join(broadcast(queries), col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            score.as("cosine_sim")))
        .select("query_id", "neighbor_id")
        .write.mode("overwrite").parquet(tmp)
    }
    spark.read.parquet(path)
  }

  /** Hard-negative mining — the contrastive-training data op: for each
    * query vector, the [[TopK]] MOST similar corpus vectors carrying a
    * DIFFERENT label. These near-but-wrong neighbors are exactly the
    * negatives metric-learning / embedding-model training wants (random
    * negatives are trivially separable; the hard ones define the margin —
    * the in-batch-negatives upgrade every retrieval-model pipeline mines
    * offline). Same output contract as [[cosineTopK]]: (query_id,
    * neighbor_id, rank, cosine_sim).
    *
    * 100 TB shape: identical to [[cosineTopK]] — queries broadcast with
    * their labels, the corpus is scanned once and never shuffles vectors,
    * the label-mismatch predicate rides the broadcast join, and the
    * finisher is the bounded per-group top-k aggregator. The label here
    * is the class column the synthetic corpus ships; in production it is
    * "same source document / same near-dup cluster", i.e. any
    * positive-pair relation. */
  def hardNegatives(spark: SparkSession, sfDir: String): DataFrame = {
    val vs = dropZeroNorm(Tables.spread(Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", l2norm(col("v"))))
    val queries = vs.where(col("vec_id") < NumQueryVectors)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        col("v").as("qv"), col("nrm").as("qn"))
    val scored = vs.join(broadcast(queries),
        col("vec_id") =!= col("query_id") && col("label") =!= col("q_label"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (dot(col("v"), col("qv")) / (col("nrm") * col("qn"))).as("cosine_sim"))
    topKPerQuery(scored)
  }

  /** Triplet mining — the contrastive-training data op one level up
    * from [[hardNegatives]]: per anchor (the query panel), its nearest
    * SAME-label vector (the positive), its nearest DIFFERENT-label
    * vector (the hard negative), and the margin between them — the
    * exact rows a triplet/InfoNCE loss consumes, with margin ≤ 0
    * marking anchors whose hardest negative already beats their best
    * positive (the curriculum signal). Both argmaxes come from ONE
    * scored scan via conditional max_by (null ordering keys are ignored
    * by the aggregate, so each side sees only its label class);
    * anchors lacking either side are dropped (mirrors the oracle's
    * inner join). Output: (anchor_id, positive_id, positive_sim,
    * negative_id, negative_sim, margin).
    *
    * 100 TB shape: identical to [[cosineTopK]] — queries broadcast,
    * corpus scanned once, two map-side-combined conditional argmax
    * aggregates; the corpus never shuffles vectors. */
  def tripletMining(spark: SparkSession, sfDir: String): DataFrame = {
    val vs = dropZeroNorm(Tables.spread(Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", l2norm(col("v"))))
    val queries = vs.where(col("vec_id") < NumQueryVectors)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        col("v").as("qv"), col("nrm").as("qn"))
    val scored = vs.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"),
        (col("label") === col("q_label")).as("same"),
        col("vec_id").as("nid"),
        (dot(col("v"), col("qv")) / (col("nrm") * col("qn"))).as("sim"))
    val ord = struct(col("sim"), (-col("nid")).as("nn"))
    scored.groupBy("query_id")
      .agg(
        max_by(struct(col("nid"), col("sim")), when(col("same"), ord)).as("p"),
        max_by(struct(col("nid"), col("sim")), when(!col("same"), ord)).as("n"))
      .where(col("p").isNotNull && col("n").isNotNull)
      .select(col("query_id").as("anchor_id"),
        col("p.nid").as("positive_id"), col("p.sim").as("positive_sim"),
        col("n.nid").as("negative_id"), col("n.sim").as("negative_sim"),
        (col("p.sim") - col("n.sim")).as("margin"))
  }

  /** kNN majority-vote classification — the label-propagation face of the
    * similarity family (the workhorse of weak-labelling / seed-expansion
    * passes over a training corpus: label a few exemplars, kNN-vote the
    * rest). Each query vector's [[TopK]] exact cosine neighbors vote with
    * their `label`; the majority wins, ties broken toward the smaller
    * label. The query's own label rides along so the output doubles as a
    * leave-one-out accuracy report. Output: (query_id, predicted_label,
    * n_votes, true_label, correct).
    *
    * 100 TB shape: the neighbor search is exactly [[cosineTopK]] (queries
    * broadcast, corpus scans once, bounded per-group top-k); the
    * label-attach join broadcasts the Q×k result against a 2-column
    * corpus projection — the corpus is never shuffled, and the vote /
    * winner aggregations run over Q×k rows. Swapping the exact search
    * for [[annLshTopK]]/[[ivfTrainedTopK]] changes nothing downstream. */
  def knnClassify(spark: SparkSession, sfDir: String): DataFrame = {
    val labels = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("label"))
    val neighbors = cosineTopK(spark, sfDir)
    val voted = labels
      .join(broadcast(neighbors), col("vec_id") === col("neighbor_id"))
      .groupBy("query_id", "label")
      .agg(count(lit(1)).as("n_votes"))
    val winner = voted
      .groupBy("query_id")
      .agg(max(struct(col("n_votes"), (-col("label")).as("neg_label"))).as("w"))
      .select(col("query_id"), (-col("w.neg_label")).as("predicted_label"),
        col("w.n_votes").as("n_votes"))
    winner
      .join(broadcast(labels.where(col("vec_id") < NumQueryVectors)
        .select(col("vec_id").as("query_id"), col("label").as("true_label"))),
        "query_id")
      .withColumn("correct", col("predicted_label") === col("true_label"))
  }

  /** Maximum-inner-product top-k (MIPS) — the recommender-serving
    * semantics (user·item score), distinct from [[cosineTopK]]: no norm
    * division, so long vectors legitimately outrank near-parallel short
    * ones. Exact brute force here (the oracle-checkable baseline); the
    * scale path is the standard norm-augmentation reduction (Bachrach et
    * al., RecSys'14): append dim `sqrt(M²-|x|²)` to corpus vectors and 0
    * to queries, turning MIPS into cosine so the SAME sign-LSH /
    * IVF machinery ([[annLshTopK]], [[ivfTrainedTopK]]) serves it — the
    * augmentation is a map-only column rewrite of the staged corpus.
    * Output: (query_id, neighbor_id, rank, inner_product).
    *
    * 100 TB shape: identical to [[cosineTopK]] — queries broadcast, the
    * corpus scans once and never shuffles vectors, bounded per-group
    * top-k aggregation finishes. */
  def mipsTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val vs = vectors(spark, sfDir)
    val queries = vs.where(col("vec_id") < NumQueryVectors)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = vs.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        dot(col("v"), col("qv")).as("cosine_sim"))
    topKPerQuery(scored).withColumnRenamed("cosine_sim", "inner_product")
  }

  /** Deterministic Rademacher (+1/-1) hyperplanes, generated host-side from a
    * splitmix64-style mix of (plane, dim) — public-domain constant mixing, no
    * RNG state. */
  private def planeSign(j: Int, d: Int): Double = {
    var z = j.toLong * 0x9E3779B97F4A7C15L + d.toLong * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z ^= z >>> 30; z *= 0xBF58476D1CE4E5B9L
    z ^= z >>> 27; z *= 0x94D049BB133111EBL
    z ^= z >>> 31
    if ((z & 1L) == 0L) 1.0 else -1.0
  }

  /** Signature bands: `bands` ints, each packing `planes/bands` sign bits
    * of hyperplane projections (plane j contributes bit j%bits of band
    * j/bits). One native [[graft.functions.SignBands]] expression, NOT a
    * when/sum tree of per-plane [[dot]]s: the composed tree generated
    * ~13 KB of bytecode which `InferFiltersFromGenerate` + alias
    * inlining then duplicated under the band explode, pushing the stage
    * past HotSpot's 8000-bytecode JIT limit — the whole projection ran
    * INTERPRETED, 52 s for 200k sf10 vectors where the JIT'd loop takes
    * ~1 s (r17 profile; same fix class as the r1 DotProduct-vs-HOF
    * decision, one level up). */
  private def signatureBands(v: Column, dim: Int,
                             planes: Int = SignatureBits,
                             bands: Int = BandsPerSignature): Column =
    graft.functions.SignBands.of(v,
      Array.tabulate(planes, dim)((j, d) => planeSign(j, d)), planes / bands)

  /** ANN top-k via sign-LSH banding: a corpus vector is a candidate for a
    * query iff they agree on at least one 4-bit band of hyperplane signs.
    * Exact cosine on candidates only. Same output shape as [[cosineTopK]];
    * recall < 1 by construction (documented approximation). */
  def annLshTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val vs = vectors(spark, sfDir)
    annProbe(vs, vs.where(col("vec_id") < NumQueryVectors)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn")))
  }

  /** The LSH probe core: score a (query_id, qv, qn) batch against a
    * banded (vec_id, v, nrm) corpus — shared verbatim by the registered
    * batch query (where the batch is the first [[NumQueryVectors]]
    * corpus vectors) and the streaming face on [[graft.streaming.StreamingScorer]]
    * (where it is each micro-batch of a query stream). The query side is the small
    * side: its banded signatures broadcast, the corpus never shuffles. */
  def annProbe(corpus: DataFrame, queries: DataFrame): DataFrame = {
    val dim = 64
    val exploded = corpus.withColumn("bands", signatureBands(col("v"), dim))
      .select(col("vec_id"), col("v"), col("nrm"),
        posexplode(col("bands"))).withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bv")
    val qBanded = queries.withColumn("bands", signatureBands(col("qv"), dim))
      .select(col("query_id"), col("qv"), col("qn"),
        posexplode(col("bands"))).withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bv")
    val cands = exploded.join(broadcast(qBanded), Seq("band", "bv"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("v"),
        col("nrm"), col("qv"), col("qn"))
      .dropDuplicates("query_id", "neighbor_id")
    val scored = cands.select(col("query_id"), col("neighbor_id"),
      (dot(col("v"), col("qv")) / (col("nrm") * col("qn"))).as("cosine_sim"))
    topKPerQuery(scored)
  }

  /** Prepare the static corpus side for [[annProbe]] at its natural
    * grain (vec_id, v, nrm) — the frame a deployment persists. */
  def annCorpus(spark: SparkSession, sfDir: String): DataFrame =
    vectors(spark, sfDir)

  /** Embedding-cosine near-dup clustering — the vector-space member of the
    * dedup family (see [[Dedup]] for the text-space ones). Candidates via
    * sign-LSH banding ([[DedupPlanes]]/[[DedupBands]], bucket-capped), exact
    * cosine ≥ [[CosDupThreshold]] verify, transitive closure. One row per
    * vector: (vec_id, cluster_id, n_dups); singletons cluster as themselves.
    *
    * 100 TB shape: the banded self-join shuffles (band, bucket, id) triples
    * — never the vectors; the cosine verify touches candidate pairs only;
    * [[MaxVecBucket]] bounds the fan-out on any distribution; components
    * close in O(log n) rounds ([[ConnectedComponents.minLabel]]). */
  /** Sign-LSH candidate pairs over a STAGED normed+banded vector frame
    * (must carry vec_id, v, nrm, bands): bucket by (band, band-value)
    * with the [[MaxVecBucket]] frequency cap, emit each co-bucketed
    * (a < b) pair once. Shared verbatim by [[embeddingDedup]] and
    * [[rangeSimJoin]] so the blocking cannot drift between them. */
  private def lshCandidatePairs(vs: DataFrame): DataFrame = {
    val banded = vs.select(col("vec_id"), posexplode(col("bands")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bv")
    val ok = banded.groupBy("band", "bv").agg(count(lit(1)).as("n"))
      .where(col("n").between(2, MaxVecBucket)).select("band", "bv")
    val in2 = banded.join(ok, Seq("band", "bv"))
    in2.select(col("band"), col("bv"), col("vec_id").as("a"))
      .join(in2.select(col("band"), col("bv"), col("vec_id").as("b")),
        Seq("band", "bv"))
      .where(col("a") < col("b")).select("a", "b").distinct()
  }

  /** Exact cosine for candidate pairs: attach both vectors once each,
    * sequential-fold dot product. Output (a, b, cosine_sim). */
  private def pairCosines(vs: DataFrame, cand: DataFrame): DataFrame =
    cand
      .join(vs.select(col("vec_id").as("a"), col("v").as("va"), col("nrm").as("na")), "a")
      .join(vs.select(col("vec_id").as("b"), col("v").as("vb"), col("nrm").as("nb")), "b")
      .select(col("a"), col("b"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cosine_sim"))

  /** Pair-once / consume-many memo for the registered pair-cosine
    * consumers ([[Dedup.lshClusterArtifact]]'s convention on the
    * embedding side): the banded-candidate cosines — UNthresholded, so
    * every consumer's own τ filter applies to the same relation — are
    * materialized once per (session, dir) as a parquet artifact and
    * reopened as a columnar scan by [[embeddingDedup]] (τ =
    * [[CosDupThreshold]]) and [[rangeSimJoin]] (τ = [[RangeSimTau]]). */
  /** All banded-candidate pair cosines for a corpus dir — built at most
    * once per corpus generation, reopened across sessions (doubles
    * round-trip parquet exactly). */
  def pairCosineArtifact(spark: SparkSession, sfDir: String): DataFrame = {
    val path = graft.engine.Artifacts.durable(spark, "paircos", sfDir) { tmp =>
      val vs = Staging.stage(vectors(spark, sfDir)
        .withColumn("bands", signatureBands(col("v"), 64, DedupPlanes, DedupBands)))
      pairCosines(vs, lshCandidatePairs(vs))
        .write.mode("overwrite").parquet(tmp)
    }
    spark.read.parquet(path)
  }

  def embeddingDedup(spark: SparkSession, sfDir: String): DataFrame = {
    // cluster once per corpus generation ([[graft.operators.Dedup
    // .lshClusterArtifact]]'s convention, r17): the transitive closure is
    // a multi-round distributed iteration, the most expensive piece every
    // consumer of this table re-paid
    val path = graft.engine.Artifacts.durable(spark, "embedclusters", sfDir) { tmp =>
      val edges = pairCosineArtifact(spark, sfDir)
        .where(col("cosine_sim") >= CosDupThreshold)
        .select("a", "b")
      val ids = Tables.embeddings(spark, sfDir).select(col("vec_id"))
      val comp = ConnectedComponents.minLabel(edges).withColumnRenamed("id", "vec_id")
      val labeled = ids.join(comp, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("component"), col("vec_id")).as("cluster_id"))
      val sizes = labeled.groupBy("cluster_id").agg(count(lit(1)).as("sz"))
      labeled.join(sizes, "cluster_id")
        .select(col("vec_id"), col("cluster_id"), (col("sz") - 1).as("n_dups"))
        .write.mode("overwrite").parquet(tmp)
    }
    spark.read.parquet(path)
  }

  /** Similarity threshold for [[rangeSimJoin]] — deliberately looser than
    * [[CosDupThreshold]]: a range join reports RELATED pairs (link
    * discovery, weak supervision, graph building), not just duplicates. */
  val RangeSimTau = 0.30

  /** Threshold similarity self-join (ε-range join): EVERY pair of corpus
    * vectors with cosine ≥ [[RangeSimTau]], not a per-query top-k — the
    * all-pairs similarity-join primitive (record linkage, near-dup GRAPH
    * construction, contrastive positive mining) that a naive engine writes
    * as an O(n²) cross join. Blocking is the shared sign-LSH machinery of
    * [[embeddingDedup]] ([[lshCandidatePairs]] — banded signatures,
    * frequency-capped buckets), then one exact cosine per surviving
    * candidate; the oracle mirrors the blocking bit for bit, so the
    * reported pair set is deterministic on both engines. Output:
    * (a, b, cosine_sim) with a < b.
    *
    * 100 TB shape: candidate generation is the banded self-join on
    * (band, bv) keys with per-bucket caps (no quadratic blowup — the cap
    * bounds each bucket's fan-out; recall comes from band count); vectors
    * attach to the capped candidate set only. The one full-width shuffle
    * is hash(vec_id) at the two attach joins. */
  def rangeSimJoin(spark: SparkSession, sfDir: String): DataFrame =
    pairCosineArtifact(spark, sfDir)
      .where(col("cosine_sim") >= RangeSimTau)

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster embeddings around a codebook, then mark as duplicate every
    * vector whose cosine to a LOWER-id member of its own cluster clears
    * [[CosDupThreshold]] — the deterministic keep-lowest-id policy.
    * Structurally distinct from [[embeddingDedup]]: clustering-blocked
    * (candidates never cross clusters) and policy-labeled (keep / dup_of),
    * not transitively closed — the two published shapes of embedding-space
    * dedup.
    *
    * Codebook: the first [[NumCentroids]] corpus vectors by id (the same
    * deterministic stand-in as [[ivfTopK]]; at scale a k-means sample with
    * nlist = O(√N), which keeps cluster size, pair fan-out, and partition
    * count balanced — O(√N) members per cluster → O(N) total pair work).
    *
    * One row per vector: (vec_id, cent_id, dup_of, dup_cos, keep) —
    * dup_of/dup_cos are the best (max-cosine, tiebreak min-id) lower-id
    * near-dup, null for kept vectors.
    *
    * 100 TB shape: assignment is one broadcast-codebook scan whose argmax
    * shuffles only (vec_id, cent_id, cs) triples — never vectors; the
    * vectors attach once via the members join; the within-cluster
    * self-join shuffles on cent_id. */
  def semanticDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val vs = Staging.stage(vectors(spark, sfDir))
    val cents = vs.where(col("vec_id") < NumCentroids)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("nrm").as("cn"))
    val assign = vs.join(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
        (dot(col("v"), col("cv")) / (col("nrm") * col("cn"))).as("cs"))
      .groupBy("vec_id")
      .agg(max_by(col("cent_id"),
        struct(col("cs"), (-col("cent_id")).as("nc"))).as("cent_id"))
    val members = assign.join(vs, "vec_id")
    val pairs = members.select(col("cent_id"), col("vec_id").as("a"),
        col("v").as("va"), col("nrm").as("na"))
      .join(members.select(col("cent_id"), col("vec_id").as("b"),
        col("v").as("vb"), col("nrm").as("nb")), Seq("cent_id"))
      .where(col("b") < col("a"))
      .select(col("a"), col("b"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
      .where(col("cos") >= CosDupThreshold)
    val best = pairs.groupBy("a")
      .agg(max_by(struct(col("b"), col("cos")),
        struct(col("cos"), (-col("b")).as("nb"))).as("m"))
      .select(col("a").as("vec_id"), col("m.b").as("dup_of"), col("m.cos").as("dup_cos"))
    members.select("vec_id", "cent_id")
      .join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cent_id"), col("dup_of"), col("dup_cos"),
        col("dup_of").isNull.as("keep"))
  }

  /** Measured recall@k of [[annLshTopK]] against the exact [[cosineTopK]]
    * — the quality metric an ANN index ships with (recall < 1 by
    * construction; this makes the loss a first-class, oracle-checked
    * number instead of a docstring claim). One row per query:
    * (query_id, recall_at_k). */
  def annRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val exact = exactRefereeArtifact(spark, sfDir, "cos")
    val ann = annLshTopK(spark, sfDir).select(col("query_id"), col("neighbor_id"))
    val hits = exact.join(ann, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    exact.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / TopK).as("recall_at_k"))
  }

  /** Prefix dims for [[matryoshkaRecall]] — powers of two up to the full
    * embedding width, the ladder Matryoshka-trained models publish. */
  val MatryoshkaDims: Seq[Int] = Seq(8, 16, 32, 64)

  /** Matryoshka truncation-recall curve (Kusupati et al. 2022): mean
    * recall@[[TopK]] of exact cosine search over the FIRST d dimensions
    * vs the full-width exact ranking, for each prefix width in
    * [[MatryoshkaDims]] — the measurement that decides whether the
    * embedding column can ship truncated. At 100 TB the embedding store
    * is often the single largest table, and a model whose 16-dim prefix
    * already recalls ~0.9 cuts that store (and every downstream ANN
    * index) 4× — but only a measured curve justifies the cut, exactly as
    * the nprobe/bands curves justify index geometry. The full-width
    * point is exact 1.0 by construction (same arithmetic as the
    * reference ranking — the self-check). Output one row per dim:
    * (dim, n_hits, mean_recall_at_k); n_hits is the exact integer hit
    * total, the mean ONE division of exact ints.
    *
    * 100 TB shape: the corpus vector frame stages ONCE and each sweep
    * point re-scores it against the broadcast query block with the
    * bounded top-k finisher — per dim one map-only scan of the staged
    * frame, vectors never shuffle, and the truncated dots cost LESS
    * than the full referee's exact arm. Zero-norm truncated prefixes
    * (possible for sparse embeddings) are excluded on both sides rather
    * than scored — a NaN cosine orders differently across engines. */
  def matryoshkaRecall(spark: SparkSession, sfDir: String): DataFrame = {
    // r18 fused sweep (the r17 sweepRecall discipline applied here): all
    // prefix widths ride ONE corpus pass — the native
    // [[graft.functions.PrefixDots]] emits every width's dot in a single
    // left-to-right pass (a left fold's prefix IS its partial sum, so
    // each width's cosine is bit-identical to the former per-width
    // slice+dot sub-plan), one composite-key top-k aggregation replaces
    // one filter→topk→join→agg sub-plan per width.
    val dims = MatryoshkaDims
    val base = Staging.stage(vectors(spark, sfDir)
      .select(col("vec_id"), col("v"),
        graft.functions.PrefixDots.of(col("v"), col("v"), dims).as("nn")))
    val exactTk = exactRefereeArtifact(spark, sfDir, "cos")
    val queries = base.where(col("vec_id") < NumQueryVectors)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nn").as("qnn"))
    val dimArr = array(dims.map(d => lit(d.toLong)): _*)
    val sims = base.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("nn"), col("qnn"),
        posexplode(graft.functions.PrefixDots.of(col("v"), col("qv"), dims)))
      .select(col("query_id"), col("neighbor_id"),
        element_at(dimArr, col("pos") + 1).as("dim"),
        sqrt(element_at(col("nn"), col("pos") + 1)).as("nrm"),
        sqrt(element_at(col("qnn"), col("pos") + 1)).as("qn"),
        col("col").as("dd"))
      // the per-width zero-prefix-norm guards, applied per pair side
      .where(col("nrm") > 0 && col("qn") > 0)
      .select(col("dim"), col("query_id"), col("neighbor_id"),
        (col("dd") / (col("nrm") * col("qn"))).as("cosine_sim"))
    val hits = exactTk
      .join(graft.functions.TopKByScore.perGroups(sims, TopK,
        Seq("dim", "query_id")), Seq("query_id", "neighbor_id"))
      .groupBy("dim").agg(count(lit(1)).as("n_hits"))
    val sp = spark
    import sp.implicits._
    dims.map(_.toLong).toDF("dim")
      .join(hits, Seq("dim"), "left")
      .select(col("dim"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double")
          / lit((TopK * NumQueryVectors).toDouble)).as("mean_recall_at_k"))
  }

  /** Exact cosine top-k over the FIRST d embedding dimensions — one
    * sweep point of [[matryoshkaRecall]], exposed for the spec's
    * independent re-derivation. */
  def prefixTopK(spark: SparkSession, sfDir: String, d: Int): DataFrame =
    prefixTk(vectors(spark, sfDir), d)

  private def prefixTk(vs: DataFrame, d: Int): DataFrame = {
    val tv = vs.select(col("vec_id"), slice(col("v"), 1, d).as("v"))
      .withColumn("nrm", l2norm(col("v")))
      .where(col("nrm") > 0)
    exactCosineProbe(tv,
      tv.where(col("vec_id") < NumQueryVectors)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("nrm").as("qn")))
      .select(col("query_id"), col("neighbor_id"))
  }

  /** IVF (inverted-file) top-k — the other classic ANN scale path: assign
    * every corpus vector to its nearest centroid once, then search only the
    * [[NProbe]] centroid lists nearest each query. Same output shape as
    * [[cosineTopK]]; recall < 1 by construction (bounded by probe
    * coverage), deterministic, fully oracle-mirrored.
    *
    * 100 TB shape: assignment is one broadcast-centroids argmax scan;
    * with the corpus written bucketed/partitioned by `cent_id` the probe
    * join prunes to nprobe/nlist of the data per query batch. */
  def ivfTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val vs = Staging.stage(vectors(spark, sfDir))
    val cands = coarseCandidates(vs)
    val rescored = cands
      .join(vs.select(col("vec_id"), col("v"), col("nrm")), "vec_id")
      .join(broadcast(vs.where(col("vec_id") < NumQueryVectors)
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))),
        "query_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (dot(col("v"), col("qv")) / (col("nrm") * col("qn"))).as("cosine_sim"))
    topKPerQuery(rescored)
  }

  // ---- the coarse quantizer, shared by ivfTopK / ivfPqTopK / writeCodeTable
  // (one implementation so a tiebreak or threshold change cannot drift the
  // assignment between the searches and the persisted code table) ----------

  /** The (cent_id, cv, cn) coarse centroid set. */
  private def coarseCents(full: DataFrame): DataFrame =
    full.where(col("vec_id") < NumCentroids)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("nrm").as("cn"))

  /** Corpus → nearest centroid (max cosine, tiebreak min centroid id) —
    * r18 MAP-ONLY: the K centroids pack into one broadcast row and the
    * argmax is a per-row fold over that array (the [[kmeansAssign]]
    * discipline). The former corpus×K explode + max_by(struct) groupBy
    * planned as SortAggregate — two full sorts and an exchange of the
    * exploded frame per IVF consumer. Fold equivalence: cents sorted
    * cent_id ascending, strict `>` keeps the first maximum — exactly
    * max_by's (cs desc, cent_id asc) order on the finite cosines the
    * zero-norm corpus guard guarantees. */
  private def coarseAssign(full: DataFrame): DataFrame = {
    val packed = coarseCents(full)
      .agg(array_sort(collect_list(
        struct(col("cent_id"), col("cv"), col("cn")))).as("cents"))
    full.crossJoin(broadcast(packed))
      .withColumn("best", aggregate(col("cents"),
        struct(lit(-1L).as("cent_id"), lit(Double.NegativeInfinity).as("cs")),
        (acc, c) => {
          val cs = dot(col("v"), c.getField("cv")) /
            (col("nrm") * c.getField("cn"))
          when(cs > acc.getField("cs"),
            struct(c.getField("cent_id").as("cent_id"), cs.as("cs")))
            .otherwise(acc)
        }))
      .select(col("vec_id"), col("best.cent_id").as("cent_id"))
  }

  /** Candidate (query_id, vec_id) pairs: each query probes its [[NProbe]]
    * best centroid lists (the probe set is tiny — queries × centroids —
    * and broadcast; the probe ranking scores ONLY the query block, the
    * corpus side rides the map-only [[coarseAssign]]). */
  private def coarseCandidates(full: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("vec_id")
      .orderBy(col("cs").desc, col("cent_id").asc)
    val probes = full.where(col("vec_id") < NumQueryVectors)
      .join(broadcast(coarseCents(full)))
      .select(col("vec_id"), col("cent_id"),
        (dot(col("v"), col("cv")) / (col("nrm") * col("cn"))).as("cs"))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= NProbe)
      .select(col("vec_id").as("query_id"), col("cent_id"))
    coarseAssign(full).join(broadcast(probes), Seq("cent_id"))
      .where(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id").distinct()
  }

  // ---- k-means training (Lloyd's) ------------------------------------------

  /** Cluster count and (unrolled) Lloyd iteration count for
    * [[kmeansTrain]]. */
  val KmeansK = 8
  val KmeansIters = 3

  /** Squared L2 distance via three sequential dots in one fixed scalar-op
    * order, `(v·v − 2(v·c)) + c·c` — bit-identical on both engines, so
    * assignment argmins can never flip between Spark and the oracle. */
  private def dist2(v: Column, cv: Column): Column =
    dot(v, v) - lit(2.0) * dot(v, cv) + dot(cv, cv)

  /** One Lloyd assignment: every vector to its nearest centroid (squared-L2
    * argmin, ties to the lowest cent_id) → (vec_id, v, cent_id, d2).
    *
    * GENUINELY map-only: the K centroids are packed into ONE row
    * (array of (cent_id, cv, cc) sorted by cent_id) and attached by a
    * 1-row broadcast, then the argmin is a per-row `aggregate` fold over
    * that array — the corpus never enters an Exchange, there is no window,
    * no per-candidate row explosion. d² keeps the exact [[dist2]] scalar
    * order ((v·v − 2(v·c)) + c·c, with v·v and c·c hoisted — the same
    * values in the same positions, so argmins stay bit-identical to the
    * oracle), and the fold's strict `<` with the array sorted by cent_id
    * ascending reproduces the tiebreak-to-lowest-cent_id exactly. */
  private def kmeansAssign(vs: DataFrame, cents: DataFrame): DataFrame = {
    val packed = cents.agg(array_sort(collect_list(struct(
      col("cent_id"), col("cv"), dot(col("cv"), col("cv")).as("cc")))).as("cents"))
    vs.crossJoin(broadcast(packed))
      .withColumn("vv", dot(col("v"), col("v")))
      .withColumn("best", aggregate(col("cents"),
        struct(lit(-1L).as("cent_id"), lit(Double.MaxValue).as("d2")),
        (acc, c) => {
          val d2 = col("vv") - lit(2.0) * dot(col("v"), c.getField("cv")) +
            c.getField("cc")
          when(d2 < acc.getField("d2"),
            struct(c.getField("cent_id").as("cent_id"), d2.as("d2")))
            .otherwise(acc)
        }))
      .select(col("vec_id"), col("v"),
        col("best").getField("cent_id").as("cent_id"),
        col("best").getField("d2").as("d2"))
  }

  /** One Lloyd update: new centroid = per-dimension mean of the assigned
    * vectors, ROUNDED TO FLOAT32 then widened back — the rounding quenches
    * the double sum-order noise of distributed partial aggregation (a
    * float boundary is ~2^29 ulps away from a last-ulp double difference),
    * so the next iteration's distances stay bit-identical across engines
    * AND across partitionings of the same data. Empty clusters keep their
    * previous centroid. */
  private def kmeansUpdate(assigned: DataFrame, cents: DataFrame): DataFrame = {
    val means = assigned
      .select(col("cent_id"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("cent_id", "pos")
      .agg(avg(col("x")).cast("float").cast("double").as("nx"))
      .groupBy("cent_id")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("nx")))),
        s => s.getField("nx")).as("ncv"))
    cents.join(means, Seq("cent_id"), "left")
      .select(col("cent_id"), coalesce(col("ncv"), col("cv")).as("cv"))
  }

  /** Lloyd's k-means over the embedding corpus — the TRAINED coarse
    * quantizer the IVF family's fixed first-K centroid convention stands in
    * for ([[ivfTopK]]'s assignment/probe machinery consumes any centroid
    * table with the (cent_id, cv) shape). Deterministic end to end: init =
    * the [[KmeansK]] lowest vec_ids, [[KmeansIters]] unrolled iterations,
    * float32-rounded means (see [[kmeansUpdate]]). Output per cluster:
    * member count, inertia (Σ d² to the final centroid — the quantity
    * Lloyd's descends), and a sequential-sum centroid checksum pinning the
    * trained coordinates.
    *
    * 100 TB shape: per iteration, assignment is a map-only scan against
    * broadcast centroids (no corpus shuffle), and the update shuffles only
    * K×dim partial means (map-side combined) — the textbook distributed
    * Lloyd's; iteration states are staged through the [[Staging]] policy. */
  /** The trained (cent_id, cv) centroid table: [[KmeansIters]] Lloyd
    * rounds from the deterministic init, each round's state staged.
    * Shared by [[kmeansTrain]] (the training report) and
    * [[ivfTrainedTopK]] (the consumer) so the two can never train
    * differently. */
  def kmeansCentroids(vs: DataFrame): DataFrame = {
    val init = vs.where(col("vec_id") < KmeansK)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    (1 to KmeansIters).foldLeft(init) { (c, _) =>
      Staging.stage(kmeansUpdate(kmeansAssign(vs, c), c))
    }
  }

  /** Train-once / consume-many memo for the registered k-means consumers
    * (the [[pairCosineArtifact]]/`lshClusterArtifact` convention): the
    * first consumer per corpus generation runs the Lloyd loop and persists the K-row
    * centroid table via [[saveCentroids]]; the training report, both IVF
    * searches, the purity and silhouette evals, and both IVF referees
    * reopen it as a parquet scan (doubles round-trip exactly, and
    * training is deterministic — float32-rounded means — so artifact ≡
    * fresh training; every consumer's oracle retrains in SQL and still
    * hash-matches). Six consumers now ride one training pass; at 100 TB
    * this is the difference between training once and once per query. */
  def trainedCentroids(s: SparkSession, d: String): DataFrame = {
    val path = graft.engine.Artifacts.durable(s, "centroids", d) { tmp =>
      saveCentroids(kmeansCentroids(
        Staging.stage(vectors(s, d).select(col("vec_id"), col("v")))), tmp)
    }
    loadCentroids(s, path)
  }

  def kmeansTrain(spark: SparkSession, sfDir: String): DataFrame = {
    val vs = Staging.stage(vectors(spark, sfDir).select(col("vec_id"), col("v")))
    val trained = trainedCentroids(spark, sfDir)
    val members = kmeansAssign(vs, trained)
      .groupBy("cent_id")
      .agg(count(lit(1)).as("n_vecs"), sum(col("d2")).as("inertia"))
    members.join(broadcast(trained.select(col("cent_id"),
        dot(col("cv"), transform(col("cv"), _ => lit(1.0))).as("centroid_sum"))),
      Seq("cent_id"))
      .select("cent_id", "n_vecs", "inertia", "centroid_sum")
  }

  /** Cluster purity against the label column — the clustering eval
    * every unsupervised stage owes its consumers (does the trained
    * quantizer's geometry recover the known classes?): assign every
    * vector to its trained centroid, then per cluster report size,
    * majority label (ties to the smaller label), its count, and purity
    * = majority/size. Output: (cent_id, n_vecs, top_label, top_n,
    * purity).
    *
    * 100 TB shape: the same broadcast-centroid map-only assignment as
    * [[ivfTrainedTopK]], labels ride the same scan (no join against the
    * corpus — `embeddings` carries its label), one two-phase
    * (cluster, label) aggregation to ≤K·|labels| cells, and the
    * majority argmax is a window over that tiny grid. */
  def clusterPurity(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the CLEANED corpus (zero-norm dropped), same rule as every other
    // index-shaped op — the purity grid must count exactly the vectors
    // the trained quantizer indexed
    val base = Staging.stage(
      dropZeroNorm(Tables.spread(Tables.embeddings(spark, sfDir))
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
          col("label"))
        .withColumn("nrm", l2norm(col("v"))))
        .drop("nrm"))
    val cents = trainedCentroids(spark, sfDir)
    val cells = kmeansAssign(base.select("vec_id", "v"), cents)
      .select("vec_id", "cent_id")
      .join(base.select("vec_id", "label"), "vec_id")
      .groupBy("cent_id", "label").agg(count(lit(1)).as("n"))
    cells
      .withColumn("n_vecs", sum("n").over(Window.partitionBy("cent_id")))
      .withColumn("rn", row_number().over(Window.partitionBy("cent_id")
        .orderBy(col("n").desc, col("label").asc)))
      .where(col("rn") === 1)
      .select(col("cent_id"), col("n_vecs"), col("label").as("top_label"),
        col("n").as("top_n"),
        (col("n").cast("double") / col("n_vecs")).as("purity"))
  }

  /** Trained-IVF recall referee — [[annRecall]]'s twin for the OTHER
    * approximate path: recall@[[TopK]] of [[ivfTrainedTopK]] against the
    * exact L2 top-k (the metric the IVF path actually ranks by, so the
    * referee measures list-truncation loss and nothing else). Output:
    * (query_id, recall_at_k).
    *
    * 100 TB shape: the exact reference is the [[cosineTopK]] envelope —
    * queries broadcast, corpus scanned once, bounded [[topKPerQuery]]
    * aggregator — and the IVF side reuses the registered plan; the
    * hit-join touches only 2·K rows per query. The referee exists to be
    * RUN AT SAMPLE SCALE (its exact leg is a full scan by definition);
    * in production you recall-check a query sample, never the corpus. */
  def ivfRecall(spark: SparkSession, sfDir: String): DataFrame =
    recallVsExact(spark, sfDir,
      (s, d) => ivfTrainedTopK(s, d).select("query_id", "neighbor_id"))

  /** [[ivfRecall]]'s twin for the PQ path: recall@[[TopK]] of
    * [[pqAdcTopK]]'s ADC ranking against the exact L2 top-k — together
    * with [[annRecall]] (LSH) and [[ivfRecall]] this completes the
    * referee set, one per approximate index family the engine ships.
    * Same envelope: run at query-sample scale. */
  def pqRecall(spark: SparkSession, sfDir: String): DataFrame =
    recallVsExact(spark, sfDir,
      (s, d) => pqAdcTopK(s, d).select("query_id", "neighbor_id"))

  /** The nprobe settings [[ivfNprobeCurve]] sweeps. */
  val NprobeSweep: Seq[Int] = Seq(1, 2, 4, 8)

  /** IVF quality/cost tuning curve — mean recall@[[TopK]] at each
    * [[NprobeSweep]] setting, the evidence behind choosing [[NProbe]]:
    * every query's centroid lists are RANKED once (not truncated), every
    * candidate carries its list's probe rank, and each sweep point is a
    * filter `prank ≤ p` over the SAME staged scored relation — one
    * corpus scan funds the whole curve, instead of one per setting.
    * Mean recall = Σ hits / (queries·k), exact integer arithmetic until
    * the final division. Output: (nprobe, mean_recall).
    *
    * 100 TB shape: the scored relation is the [[ivfTrainedTopK]]
    * envelope at the LARGEST sweep point (all lists), staged once; each
    * curve point adds only a filter + bounded top-k + an id-pair join
    * against the exact reference (runs at query-sample scale, as all
    * referees do). */
  def ivfNprobeCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val vs = Staging.stage(vectors(spark, sfDir).select(col("vec_id"), col("v")))
    val cents = trainedCentroids(spark, sfDir)
    val assigned = kmeansAssign(vs, cents).select("vec_id", "cent_id")
    val queries = vs.where(col("vec_id") < NumQueryVectors)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(col("d2").asc, col("cent_id").asc)
    val probeRanks = queries.join(broadcast(cents))
      .select(col("query_id"), col("cent_id"), dist2(col("qv"), col("cv")).as("d2"))
      .withColumn("prank", row_number().over(w))
      .select("query_id", "cent_id", "prank")
    val scored = Staging.stage(assigned
      .join(broadcast(probeRanks), Seq("cent_id"))
      .where(col("vec_id") =!= col("query_id"))
      .join(vs, "vec_id")
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("prank"),
        (-dist2(col("v"), col("qv"))).as("cosine_sim")))
    // exact L2 leg = the shared referee artifact; the sweep itself is ONE
    // fused (nprobe, query) top-k aggregation over the staged scored
    // relation instead of one sub-plan per sweep point (guide §1.2: same
    // result, a quarter of the passes)
    val exactTk = exactRefereeArtifact(spark, sfDir, "l2")
    val fanned = scored.select(col("query_id"), col("neighbor_id"),
      col("cosine_sim"),
      explode(filter(array(NprobeSweep.map(lit): _*),
        p => col("prank") <= p)).as("nprobe"))
    sweepRecall(spark, fanned, "nprobe", NprobeSweep, exactTk, "mean_recall")
  }

  /** One-pass sweep-recall finisher shared by the tuning curves: `fanned`
    * carries each scored candidate replicated into every sweep point it
    * is visible at; ONE composite-key top-k aggregation + ONE referee
    * join + ONE per-point count replace a filter→topk→join→agg sub-plan
    * per point. A point with zero hits still reports (left join against
    * the literal point list), exactly like the old per-point
    * `agg(count)`. */
  private def sweepRecall(spark: SparkSession, fanned: DataFrame,
                          pointCol: String, points: Seq[Int],
                          exactTk: DataFrame, recallName: String): DataFrame = {
    import spark.implicits._
    val tk = graft.functions.TopKByScore.perGroups(fanned, TopK,
      Seq(pointCol, "query_id"))
    val hits = tk.join(exactTk, Seq("query_id", "neighbor_id"))
      .groupBy(pointCol).agg(count(lit(1)).as("_hits"))
    points.toDF(pointCol).join(broadcast(hits), Seq(pointCol), "left")
      .select(col(pointCol),
        round(coalesce(col("_hits"), lit(0L)).cast("double")
          / (NumQueryVectors * TopK), 6).as(recallName))
  }

  /** Per-dimension distribution audit — the collapsed/dead-dimension
    * check an embedding column owes its ANN consumers (a near-constant
    * dimension wastes PQ subspace budget and weakens every hyperplane
    * that touches it; [[embeddingAudit]] is the per-VECTOR face, this is
    * the per-DIMENSION one): mean, variance, min, max per coordinate.
    * Output: (dim, n, mean, variance, min_x, max_x), doubles rounded 6.
    *
    * 100 TB shape: one posexplode scan into a ≤dim-row map-side-combined
    * rollup — the sums are the only doubles and each dimension's
    * aggregate is one combine tree. */
  def dimVariance(spark: SparkSession, sfDir: String): DataFrame =
    Tables.spread(Tables.embeddings(spark, sfDir))
      .select(posexplode(col("embedding").cast("array<double>"))
        .as(Seq("dim", "x")))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum(col("x") * col("x")).as("sxx"),
        min("x").as("mn"), max("x").as("mx"))
      .select(col("dim").cast("long").as("dim"), col("n"),
        round(col("sx") / col("n"), 6).as("mean"),
        round((col("sxx") - col("sx") * col("sx") / col("n")) / col("n"), 6)
          .as("variance"),
        round(col("mn"), 6).as("min_x"), round(col("mx"), 6).as("max_x"))

  /** The band-count settings [[lshBandsCurve]] sweeps. */
  val LshBandsSweep: Seq[Int] = Seq(1, 2, 4, 8)

  /** LSH quality/cost tuning curve — [[ivfNprobeCurve]]'s twin for the
    * sign-LSH path: mean recall@[[TopK]] when only the first b of the
    * [[BandsPerSignature]] bands are indexed, for each [[LshBandsSweep]]
    * setting. Every colliding pair is tagged ONCE with its earliest
    * matching band; each sweep point is a filter `min_band < b` over the
    * same staged scored relation — one banded join funds the whole
    * curve, and the b = [[BandsPerSignature]] point is exactly
    * [[annRecall]]'s mean (pinned in the spec). Output: (n_bands,
    * mean_recall).
    *
    * 100 TB shape: the banded join is [[annLshTopK]]'s envelope (query
    * side broadcast, corpus never shuffles vectors beyond its banded
    * keys); the per-pair cosine repeats per colliding band (≤8×, query-
    * sample scale) so the min-band tag needs no second vector join. */
  def lshBandsCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = 64
    val vs = annCorpus(spark, sfDir)
    val queries = vs.where(col("vec_id") < NumQueryVectors)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val exploded = vs.withColumn("bands", signatureBands(col("v"), dim))
      .select(col("vec_id"), col("v"), col("nrm"), posexplode(col("bands")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bv")
    val qBanded = queries.withColumn("bands", signatureBands(col("qv"), dim))
      .select(col("query_id"), col("qv"), col("qn"), posexplode(col("bands")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bv")
    val scored = Staging.stage(exploded
      .join(broadcast(qBanded), Seq("band", "bv"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("band"),
        (dot(col("v"), col("qv")) / (col("nrm") * col("qn"))).as("cosine_sim"))
      .groupBy("query_id", "neighbor_id")
      .agg(min("band").as("min_band"), max("cosine_sim").as("cosine_sim")))
    // exact leg = the shared referee artifact; sweep fused into one
    // composite-key top-k pass ([[sweepRecall]]) — same rows per point
    val exactTk = exactRefereeArtifact(spark, sfDir, "cos")
    val fanned = scored.select(col("query_id"), col("neighbor_id"),
      col("cosine_sim"),
      explode(filter(array(LshBandsSweep.map(lit): _*),
        b => col("min_band") < b)).as("n_bands"))
    sweepRecall(spark, fanned, "n_bands", LshBandsSweep, exactTk, "mean_recall")
  }

  /** Shared recall finisher: exact L2 top-[[TopK]] reference (queries
    * broadcast, corpus scanned once through the bounded [[topKPerQuery]]
    * aggregator) vs any approximate (query_id, neighbor_id) list. */
  private def recallVsExact(spark: SparkSession, sfDir: String,
                            approxOf: (SparkSession, String) => DataFrame): DataFrame = {
    // exact L2 leg = the shared referee artifact (same ranking the inline
    // -dist2 topK produced; id pairs round-trip parquet exactly)
    val exact = exactRefereeArtifact(spark, sfDir, "l2")
    val hits = exact.join(approxOf(spark, sfDir), Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    exact.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / TopK).as("recall_at_k"))
  }

  /** Simplified silhouette — the internal clustering-quality eval that
    * needs no labels ([[clusterPurity]]'s labelled twin): per vector
    * a = distance to its own (nearest) trained centroid and b = distance
    * to the runner-up centroid, s = (b−a)/max(a,b) (the centroid-based
    * simplification of the classic O(n²) silhouette — the standard
    * large-scale substitute). Per cluster: size and mean s, rounded 6.
    * Output: (cent_id, n_vecs, silhouette).
    *
    * 100 TB shape: identical to [[kmeansAssign]] — the K centroids are
    * ONE broadcast row and best + runner-up come out of a single
    * array-fold pass per vector (no per-centroid explode, no corpus
    * shuffle); the only exchange is the final ≤K-row rollup. The fold
    * keeps (best, second) with strict-< updates over the cent_id-sorted
    * pack, so tie values land exactly where the oracle's
    * (d2 asc, cent_id asc) row_number puts them. */
  def silhouette(spark: SparkSession, sfDir: String): DataFrame =
    silhouetteScore(
      Staging.stage(vectors(spark, sfDir).select(col("vec_id"), col("v"))),
      trainedCentroids(spark, sfDir))

  /** [[silhouette]]'s core over any (vec_id, v) frame — trains the
    * [[kmeansCentroids]] quantizer on the frame itself, then scores it. */
  def silhouetteOf(vs: DataFrame): DataFrame =
    silhouetteScore(vs, kmeansCentroids(vs))

  private def silhouetteScore(vs: DataFrame, cents: DataFrame): DataFrame = {
    val packed = cents.agg(array_sort(collect_list(struct(
      col("cent_id"), col("cv"), dot(col("cv"), col("cv")).as("cc")))).as("cents"))
    val best = vs.crossJoin(broadcast(packed))
      .withColumn("vv", dot(col("v"), col("v")))
      .withColumn("best", aggregate(col("cents"),
        struct(lit(-1L).as("cent_id"), lit(Double.MaxValue).as("d2"),
          lit(Double.MaxValue).as("d2b")),
        (acc, c) => {
          val d2 = col("vv") - lit(2.0) * dot(col("v"), c.getField("cv")) +
            c.getField("cc")
          when(d2 < acc.getField("d2"),
            struct(c.getField("cent_id").as("cent_id"), d2.as("d2"),
              acc.getField("d2").as("d2b")))
            .when(d2 < acc.getField("d2b"),
              struct(acc.getField("cent_id").as("cent_id"),
                acc.getField("d2").as("d2"), d2.as("d2b")))
            .otherwise(acc)
        }))
    val a = sqrt(greatest(col("best").getField("d2"), lit(0.0)))
    val b = sqrt(greatest(col("best").getField("d2b"), lit(0.0)))
    best.select(col("best").getField("cent_id").as("cent_id"),
        when(greatest(a, b) === 0, lit(0.0))
          .otherwise((b - a) / greatest(a, b)).as("sil"))
      .groupBy("cent_id")
      .agg(count(lit(1)).as("n_vecs"), round(avg("sil"), 6).as("silhouette"))
  }

  /** Frozen-quantizer assignment probe — the batch core the streaming
    * face on [[graft.streaming.StreamingScorer]] runs per micro-batch: every
    * vector of `batch` (vec_id, v) to its nearest trained centroid, same
    * bit-exact d² argmin as training. (vec_id, cent_id, d2). */
  def kmeansProbe(cents: DataFrame, batch: DataFrame): DataFrame =
    kmeansAssign(batch, cents).select("vec_id", "cent_id", "d2")

  /** IVF search over the TRAINED quantizer — [[ivfTopK]] with
    * [[kmeansCentroids]] in place of the fixed first-K convention, L2
    * end to end (probe selection, assignment, and final ranking all use
    * the same bit-exact d² the training loop descends, so the index is
    * searched with the metric it was built for). Output (query_id,
    * neighbor_id, rank, d2), ranks ascending by distance.
    *
    * 100 TB shape: identical to [[ivfTopK]] — assignment and probe
    * selection are map-only scans against broadcast centroids, the
    * bounded [[graft.functions.TopKByScore]] aggregator keeps ≤k
    * candidates per (partition, query) before the one shuffle. */
  def ivfTrainedTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val vs = Staging.stage(vectors(spark, sfDir).select(col("vec_id"), col("v")))
    val cents = trainedCentroids(spark, sfDir)
    val assigned = kmeansAssign(vs, cents).select("vec_id", "cent_id")
    val queries = vs.where(col("vec_id") < NumQueryVectors)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    // each query probes its NProbe nearest trained lists (d2 asc, cent asc)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(col("d2").asc, col("cent_id").asc)
    val probes = queries.join(broadcast(cents))
      .select(col("query_id"), col("cent_id"), dist2(col("qv"), col("cv")).as("d2"))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= NProbe)
      .select("query_id", "cent_id")
    val rescored = assigned.join(broadcast(probes), Seq("cent_id"))
      .where(col("vec_id") =!= col("query_id"))
      .join(vs, "vec_id")
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        // negated: the bounded top-k aggregator keeps the HIGHEST scores
        (-dist2(col("v"), col("qv"))).as("cosine_sim"))
    topKPerQuery(rescored)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        (-col("cosine_sim")).as("d2"))
  }

  /** Symmetric int8 quantization — the standard vector-compression stage
    * before ANN at scale (4x smaller embeddings, SIMD-friendly distances):
    * per-vector scale = 127 / max|v_i| (1.0 for the zero vector), q_i =
    * round(v_i · scale) ∈ [-127, 127]. Output stays scalar for the oracle
    * hash: the scale, the quantized L1 mass, a position-weighted checksum
    * (pins every element), and the max dequantization error (≤ 0.5/scale
    * by construction — asserted in the spec).
    *
    * 100 TB shape: map-only scan, no shuffle; rounding is half-away-from-
    * zero on BOTH engines, so the oracle matches bit-for-bit. */
  def quantizeInt8(spark: SparkSession, sfDir: String): DataFrame = {
    val vs = Tables.spread(Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val maxAbs = array_max(transform(col("v"), x => abs(x)))
    val withScale = vs.withColumn("scale",
      when(maxAbs === 0.0, lit(1.0)).otherwise(lit(127.0) / maxAbs))
    val qv = transform(col("v"), x => round(x * col("scale")).cast("long"))
    withScale.withColumn("qv", qv)
      .select(
        col("vec_id"), col("scale"),
        aggregate(col("qv"), lit(0L), (a, x) => a + abs(x)).as("q_l1"),
        aggregate(transform(col("qv"), (x, i) => (i + 1).cast("long") * x),
          lit(0L), (a, x) => a + x).as("q_checksum"),
        aggregate(zip_with(col("v"), col("qv"),
            (x, q) => abs(x - q / col("scale"))),
          lit(0.0), (a, e) => greatest(a, e)).as("max_abs_err"))
  }

  // ---- binary (1-bit) quantization + Hamming candidate search ---------------

  /** BQ rerank depth: how many Hamming candidates per query get the exact
    * cosine rescore. 10× [[TopK]] — the standard BQ oversampling ratio. */
  val BqRerankDepth = 50

  /** Bits per packed signature word. 32-bit words stored in signed int64
    * columns keep every packed value positive — no sign-bit portability
    * trap between the engines — and generalize to any dim as an array of
    * words; at dim 64 the signature is two words (lo, hi): 8 bytes per
    * vector, a 64× reduction over the float64 embedding column. */
  val BqWordBits = 32

  /** One packed sign word: bit i set iff v[j·32+i+1] > 0. A 32-term
    * static sum of power-of-two literals — whole-stage-codegen'd integer
    * compares and adds, no higher-order functions in the hot path. */
  private def bqWord(v: Column, j: Int): Column =
    (0 until BqWordBits).map { i =>
      when(element_at(v, j * BqWordBits + i + 1) > 0.0, lit(1L << i))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  /** Binary (1-bit) quantization of the embedding store — the most
    * aggressive member of the compression family ([[quantizeInt8]] keeps
    * 8 bits/dim, [[pqCodes]] 4 bits/subspace): keep only each dimension's
    * SIGN, packed 32 dims per int64 word. The production pattern behind
    * every "binary quantization" vector-store tier: signatures are what
    * the first-pass scan reads ([[hammingTopK]]), the float vectors only
    * surface for the bounded rerank. Map-only scan, pure integer output —
    * the oracle packs bit-for-bit. Output: (vec_id, bsig_lo, bsig_hi,
    * n_pos). */
  def binaryQuantize(spark: SparkSession, sfDir: String): DataFrame =
    vectors(spark, sfDir) // the CLEANED corpus: packing mirrors the index input
      .select(col("vec_id"),
        bqWord(col("v"), 0).as("bsig_lo"), bqWord(col("v"), 1).as("bsig_hi"))
      .select(col("vec_id"), col("bsig_lo"), col("bsig_hi"),
        (bit_count(col("bsig_lo")) + bit_count(col("bsig_hi")))
          .cast("long").as("n_pos"))

  /** BQ-accelerated top-k: Hamming distance over the packed sign
    * signatures generates [[BqRerankDepth]] candidates per query (sign
    * agreement is a monotone proxy for angular similarity — Charikar
    * 2002's SimHash bound at 64 planes = the identity basis), then exact
    * cosine reranks the survivors. Same output contract as
    * [[cosineTopK]]: (query_id, neighbor_id, rank, cosine_sim).
    *
    * 100 TB shape: the first-pass scan touches 8 BYTES per corpus vector
    * (xor + two popcounts — at scale the packed table IS the stored
    * index, 64× smaller than the raw embedding column), queries
    * broadcast, the bounded per-group aggregator keeps ≤depth candidates
    * per (partition, query) before the shuffle, and the float vectors
    * are only read back for the ≤depth×|queries| rerank rows — the
    * corpus never shuffles vectors, same as every other ANN face. */
  def hammingTopK(spark: SparkSession, sfDir: String): DataFrame = {
    // staged (r18): vs feeds the packed index build, the rerank store and
    // the query block — unstaged, the scan+norm pipeline ran three times
    // (the ivfTopK convention)
    val vs = Staging.stage(vectors(spark, sfDir))
    probeHamming(buildBqIndex(vs), queryBlock(vs))
  }

  /** The (query_id, qv, qn) broadcast block for the fixed query-id set. */
  private def queryBlock(vs: DataFrame): DataFrame =
    vs.where(col("vec_id") < NumQueryVectors)
      .select(col("vec_id").as("query_id"),
        col("v").as("qv"), col("nrm").as("qn"))

  /** A prebuilt binary-quantization index over a (vec_id, v, nrm) vector
    * corpus: `packed` holds the 8-byte/vector sign signatures
    * (vec_id, lo, hi) the first-pass Hamming scan reads, `vecs` the float
    * store the bounded rerank joins back into. The BQ twin of
    * [[graft.operators.Dedup.MinHashIndex]] — built once, probed by any
    * number of batch or streaming query feeds ([[probeHamming]] on
    * [[graft.streaming.StreamingScorer]]). */
  final case class BqIndex(packed: DataFrame, vecs: DataFrame)

  /** Build a [[BqIndex]] from a (vec_id, v, nrm) frame ([[annCorpus]]
    * shape). The packed table is staged: it is the index's whole point —
    * 64× smaller than the vectors — and every probe scans it, so it must
    * not be re-derived from the float column per probe. */
  def buildBqIndex(corpus: DataFrame): BqIndex =
    BqIndex(
      Staging.stage(corpus.select(col("vec_id"),
        bqWord(col("v"), 0).as("lo"), bqWord(col("v"), 1).as("hi"))),
      corpus.select("vec_id", "v", "nrm"))

  /** Probe a (query_id, qv, qn) query block against a [[BqIndex]] — the
    * online-serving core behind [[hammingTopK]], [[bqProbe]] and the
    * streaming face.
    *
    * Stage 1 scans SIGNATURES ONLY (integer xor+popcount; score =
    * -hamming so the shared bounded top-k keeps the SMALLEST distances,
    * ties to the smaller id — the oracle's row_number order); stage 2
    * exact-reranks the ≤[[BqRerankDepth]] survivors per query against
    * the float store.
    *
    * 100 TB shape: the first pass touches 8 BYTES per corpus vector,
    * queries broadcast, the bounded per-group aggregator keeps ≤depth
    * candidates per (partition, query) before the shuffle, and the float
    * vectors are only read for the ≤depth×|queries| rerank rows — the
    * corpus never shuffles vectors. */
  def probeHamming(index: BqIndex, queries: DataFrame): DataFrame = {
    val qp = queries.select(col("query_id"),
      bqWord(col("qv"), 0).as("qlo"), bqWord(col("qv"), 1).as("qhi"))
    val ham = index.packed
      .join(broadcast(qp), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (-(bit_count(col("lo").bitwiseXOR(col("qlo"))) +
            bit_count(col("hi").bitwiseXOR(col("qhi")))))
          .cast("double").as("cosine_sim"))
    val cand = graft.functions.TopKByScore.perGroup(ham, BqRerankDepth)
      .select("query_id", "neighbor_id")
    val scored = index.vecs
      .join(broadcast(cand), col("vec_id") === col("neighbor_id"))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("v"), col("qv")) / (col("nrm") * col("qn"))).as("cosine_sim"))
    topKPerQuery(scored)
  }

  /** Bucket count for the persisted BQ tables ([[saveBqIndex]]) — the
    * [[graft.operators.Dedup.IndexBuckets]] convention. */
  val BqIndexBuckets = 8

  /** Persist a [[BqIndex]] as BUCKETED tables under the artifacts root —
    * the durable form of the BQ serving tier: `{prefix}_bq` (packed
    * signatures) and `{prefix}_vec` (the rerank store), both bucketed
    * AND sorted by vec_id, so the rerank's candidate→vector join lands
    * on the store's own partitioning — the vector store is shuffled ONCE
    * at write time and never again by any probe batch too large to
    * broadcast its candidates (`BucketedIndexSpec` pins the plan:
    * the co-bucketed join runs with zero Exchange). */
  def saveBqIndex(index: BqIndex, prefix: String): Unit = {
    val s = index.packed.sparkSession
    index.packed.write.mode("overwrite").format("parquet")
      .option("path", Artifacts.freshTableLocation(s, s"${prefix}_bq"))
      .bucketBy(BqIndexBuckets, "vec_id").sortBy("vec_id")
      .saveAsTable(s"${prefix}_bq")
    index.vecs.write.mode("overwrite").format("parquet")
      .option("path", Artifacts.freshTableLocation(s, s"${prefix}_vec"))
      .bucketBy(BqIndexBuckets, "vec_id").sortBy("vec_id")
      .saveAsTable(s"${prefix}_vec")
  }

  /** Reopen a persisted BQ index. The returned frames carry the tables'
    * own bucket partitioning. */
  def loadBqIndex(spark: SparkSession, prefix: String): BqIndex =
    BqIndex(spark.table(s"${prefix}_bq"), spark.table(s"${prefix}_vec"))

  /** The registered online-serving split — [[hammingTopK]]'s index face:
    * the corpus side is every vector OUTSIDE the query-id set (the index
    * a deployment builds once), the query block probes it, neighbors come
    * only from the corpus. Exactly [[buildBqIndex]] + [[probeHamming]],
    * which is also the streaming ingestion path
    * ([[probeHamming]] on [[graft.streaming.StreamingScorer]] probes the same
    * index per micro-batch), so the DuckDB oracle checks both. */
  def bqProbe(spark: SparkSession, sfDir: String): DataFrame = {
    val vs = Staging.stage(vectors(spark, sfDir)) // see [[hammingTopK]]
    probeHamming(buildBqIndex(vs.where(col("vec_id") >= NumQueryVectors)),
      queryBlock(vs))
  }

  /** BQ recall referee — [[annRecall]]'s twin for the 1-bit path: with
    * [[annLshTopK]] (banded LSH), [[ivfRecall]]/[[pqRecall]] (IVF/PQ)
    * and [[matryoshkaRecall]] (truncation) this completes the measured
    * recall story for every compression/candidate-gen tier the engine
    * ships. Output: (query_id, recall_at_k). */
  def bqRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val exact = exactRefereeArtifact(spark, sfDir, "cos")
    val bq = hammingTopK(spark, sfDir).select(col("query_id"), col("neighbor_id"))
    val hits = exact.join(bq, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    exact.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / TopK).as("recall_at_k"))
  }

  /** Corpus-wide reciprocal-nearest-neighbor pairs — the mutual-best
    * check that PROMOTES a neighbor match to a trusted one (RNN pairs
    * seed agglomerative clustering and verify dedup candidates): a
    * one-directional nearest hit can be a hub artifact (b is everyone's
    * neighbor), a mutual one almost never is. Each vector's nearest is
    * the cosine argmax over its banded LSH candidates (the session
    * [[pairCosineArtifact]] — recall bounded by the shared blocking, the
    * family convention), and a pair emits iff each is the other's
    * nearest. Canonical a < b: (a, b, cosine_sim). The global-max
    * candidate edge is always mutual, so the result is non-empty
    * whenever any candidate pair exists.
    *
    * 100 TB shape: one columnar scan of the pair artifact (id/score
    * rows, never vectors), a two-phase max_by per side, and an id-keyed
    * mutual join — nothing rescans or reshuffles the corpus. */
  def reciprocalNn(spark: SparkSession, sfDir: String): DataFrame = {
    val pc = pairCosineArtifact(spark, sfDir)
    val nbrs = pc.select(col("a").as("vec_id"), col("b").as("other"),
        col("cosine_sim"))
      .unionAll(pc.select(col("b").as("vec_id"), col("a").as("other"),
        col("cosine_sim")))
    val best = nbrs.groupBy("vec_id")
      .agg(max_by(struct(col("other"), col("cosine_sim")),
        struct(col("cosine_sim"), (-col("other")).as("no"))).as("m"))
      .select(col("vec_id"), col("m.other").as("nn"),
        col("m.cosine_sim").as("nn_cos"))
    best.join(best.select(col("vec_id").as("b2"), col("nn").as("nn_b")),
        col("nn") === col("b2") && col("nn_b") === col("vec_id"))
      .where(col("vec_id") < col("nn"))
      .select(col("vec_id").as("a"), col("nn").as("b"),
        col("nn_cos").as("cosine_sim"))
  }

  // ---- MMR diversified retrieval -------------------------------------------

  /** Candidate pool per query entering the MMR re-rank. */
  val MmrPool = 20
  /** Diversified results returned per query. */
  val MmrK = 5
  /** Relevance weight λ. [[MmrDiversity]] is declared as its own literal
    * rather than computed `1 − λ` so BOTH engines parse the exact same
    * decimal (in IEEE doubles 1 − 0.7 ≠ 0.3). */
  val MmrLambda = 0.7
  val MmrDiversity = 0.3

  /** Maximal-marginal-relevance top-k — diversified retrieval for
    * few-shot/context selection, where plain top-k returns five copies
    * of the same neighborhood: greedily pick argmax of
    * `λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)` until [[MmrK]]
    * results, over a bounded [[MmrPool]]-candidate pool from the exact
    * cosine ranking. The greedy is [[MmrK]]−1 unrolled rounds of tiny
    * joins/aggregates over (queries × pool)-sized frames — deterministic
    * plan, no driver loop over data, ties broken (score desc, id asc).
    * One row per (query, rank ≤ [[MmrK]]): (query_id, rank, neighbor_id).
    *
    * 100 TB shape: the corpus is touched exactly twice (the bounded
    * top-k scan and one broadcast-semijoin vector fetch for the
    * candidate set); everything after is candidate-pool-sized — the
    * k²-bounded pairwise matrix is the DESIGN, not an accident, so the
    * re-rank cost is independent of corpus size. */
  def mmrTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val vs = vectors(spark, sfDir)
    val queries = vs.where(col("vec_id") < NumQueryVectors)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val scored = vs.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (dot(col("v"), col("qv")) / (col("nrm") * col("qn"))).as("cosine_sim"))
    // The candidate pool is bounded by CONSTANTS — ≤ NumQueryVectors ×
    // MmrPool = 200 rows at any corpus size — so the greedy re-rank runs
    // on the driver over the collected pool (the BPE merge-table
    // precedent: a k²-bounded collect is not a corpus collect). The r17
    // plan unrolled MmrK−1 rounds of broadcast+join+two-aggregate
    // sub-plans; each round cost fixed driver/AQE stage latency at small
    // scale and serialized the same bounded work at any scale.
    val cands = graft.functions.TopKByScore.perGroup(scored, MmrPool)
      .select(col("query_id"), col("neighbor_id"),
        col("cosine_sim").as("rel"))
      .collect()
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("query_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("neighbor_id",
        org.apache.spark.sql.types.LongType, nullable = false)))
    if (cands.isEmpty)
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), outSchema)
    // one bounded vector fetch for the candidate set (pushdown-able id
    // predicate; ≤ 200 ids) — pairwise cosines are computed on the
    // driver with the SAME left-to-right dot-product fold as the
    // DotProduct expression, so every psim is bit-identical
    val candIds = cands.map(_.getLong(1)).distinct.sorted
    val cvec = vs.where(col("vec_id").isin(candIds.map(Long.box): _*))
      .select(col("vec_id"), col("v"), col("nrm")).collect()
      .map(r => r.getLong(0) -> ((r.getSeq[Double](1).toArray, r.getDouble(2))))
      .toMap
    def psim(a: Long, b: Long): Double = {
      val (va, na) = cvec(a); val (vb, nb) = cvec(b)
      var s = 0.0; var i = 0
      while (i < va.length) { s += va(i) * vb(i); i += 1 }
      s / (na * nb)
    }
    // Spark/DuckDB comparison semantics for the argmax: NaN greatest,
    // -0.0 == 0.0 (normalized before compare)
    def cmp(x: Double, y: Double): Int =
      java.lang.Double.compare(if (x == 0.0) 0.0 else x,
        if (y == 0.0) 0.0 else y)
    val byQuery = cands.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    byQuery.toSeq.sortBy(_._1).foreach { case (qid, pool) =>
      // round 1: pure relevance argmax seeds the selection
      var sel = Vector(pool.minBy(c => (c._3, c._2))(
        Ordering.Tuple2(Ordering.fromLessThan[Double]((a, b) => cmp(a, b) > 0),
          Ordering.Long))._2)
      var alive = true
      for (_ <- 2 to MmrK if alive) {
        val remaining = pool.filterNot(c => sel.contains(c._2))
        if (remaining.isEmpty) alive = false // mirrors the plan form: a
          // query with no remaining candidates drops out of the state
        else {
          var bestId = -1L; var bestScore = 0.0; var first = true
          remaining.sortBy(_._2).foreach { case (_, nid, rel) =>
            val maxsim = sel.map(s => psim(nid, s))
              .reduce((a, b) => if (cmp(a, b) >= 0) a else b)
            val score = MmrLambda * rel - MmrDiversity * maxsim
            if (first || cmp(score, bestScore) > 0) {
              bestId = nid; bestScore = score; first = false
            }
          }
          sel :+= bestId
        }
      }
      if (alive) sel.zipWithIndex.foreach { case (nid, i) =>
        out += org.apache.spark.sql.Row(qid, i + 1, nid)
      }
    }
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(out.toSeq).asJava),
      outSchema)
  }

  /** |robust z|-flag threshold for [[embeddingAudit]] (3.5 is the
    * conventional cut for median/MAD scores). */
  val AuditZThreshold = 3.5

  /** Gaussian-consistency factor: MAD·1.4826 estimates σ for normal
    * data, making [[AuditZThreshold]] comparable to a classic z cut. */
  val MadSigma = 1.4826

  /** Embedding-table audit — the data-quality gate an embedding pipeline
    * runs before indexing: per vector its dimensionality, L2 norm, and
    * non-finite component count, plus a ROBUST norm z-score
    * ((norm − median) / ([[MadSigma]] · MAD)) with a ±[[AuditZThreshold]]
    * outlier flag; collapsed/zero vectors and exploding-norm vectors both
    * surface here, and a ragged `dim` column exposes schema drift no
    * static type catches. Median/MAD rather than mean/std for TWO
    * reasons: outliers can't drag the yardstick they're measured
    * against, and order statistics of bit-identical per-row norms are
    * engine-reproducible where a parallel mean/std differs by
    * aggregation order (a near-zero z divided by that noise would
    * blow the oracle's relative tolerance). All-equal norms → MAD 0 →
    * z defined 0. Output: (vec_id, dim, l2_norm, n_nonfinite,
    * robust_z, norm_outlier).
    *
    * 100 TB shape: map-only per-vector scans, two 1-row order-statistic
    * aggregates broadcast back, and a final codegen'd map — vectors
    * never shuffle. Exact `percentile` buffers per-partition values;
    * at real scale the drop-in is `approx_percentile` (the
    * `valueQuantiles`/`valueQuantilesApprox` twin convention,
    * `Events.scala`). */
  def embeddingAudit(spark: SparkSession, sfDir: String): DataFrame = {
    // deliberately NOT [[vectors]]: the audit is the one op that must SEE
    // collapsed/zero vectors (they are exactly the outliers it reports),
    // so it loads the raw store without the zero-norm corpus guard
    val raw = Tables.spread(Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", l2norm(col("v")))
    val perVec = raw.select(
      col("vec_id"), size(col("v")).as("dim"), col("nrm").as("l2_norm"),
      size(filter(col("v"),
        x => isnan(x) || abs(x) === lit(Double.PositiveInfinity)))
        .as("n_nonfinite"))
    val med = perVec.agg(percentile(col("l2_norm"), lit(0.5)).as("norm_med"))
    val withMed = perVec.crossJoin(broadcast(med))
    val mad = withMed
      .agg(percentile(abs(col("l2_norm") - col("norm_med")), lit(0.5))
        .as("norm_mad"))
    withMed.crossJoin(broadcast(mad))
      .withColumn("robust_z", when(col("norm_mad") === 0.0, lit(0.0))
        .otherwise((col("l2_norm") - col("norm_med")) /
          (lit(MadSigma) * col("norm_mad"))))
      .withColumn("norm_outlier", abs(col("robust_z")) > AuditZThreshold)
      .select("vec_id", "dim", "l2_norm", "n_nonfinite", "robust_z",
        "norm_outlier")
  }

  /** Embedding-store coverage audit — the cross-table integrity check a
    * feature store runs before training: per document source, how many
    * documents have an embedding vector yet. The store is modeled under
    * the engine-wide arrival convention ([[Dedup.IncomingMod]]): the
    * incoming slice (vec_id % mod == 0) has not been embedded yet, so
    * coverage reads ~80% everywhere until the embedding job catches up —
    * the lag this audit exists to surface. Output:
    * (source, n_docs, n_embedded, coverage).
    *
    * 100 TB shape: an id-grain join of two coarse projections (doc_id +
    * source vs vec_id alone) — co-partitionable/bucketable on the shared
    * id, neither side carries text or vectors (the shuffle is id bytes),
    * then one map-side-combined rollup to ≤ #sources rows. */
  def embeddingCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    val embedded = Tables.embeddings(spark, sfDir)
      .where(col("vec_id") % Dedup.IncomingMod =!= 0)
      .select(col("vec_id").as("doc_id"), lit(true).as("has_vec"))
    Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
      .join(embedded, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("has_vec"), 1L).otherwise(0L)).as("n_embedded"))
      .select(col("source"), col("n_docs"), col("n_embedded"),
        (col("n_embedded").cast("double") / col("n_docs")).as("coverage"))
  }

  // ---- product quantization --------------------------------------------------
  /** PQ geometry: 64 dims = [[PqSubspaces]] × [[PqSubDim]];
    * [[PqCodebookSize]] centroids per subspace → 4 bits per code, the
    * whole code packs into one BIGINT (8 × 4 bits). */
  val PqSubspaces = 8
  val PqSubDim = 8
  val PqCodebookSize = 16

  /** Product quantization (Jégou et al., TPAMI 2011) — the vector
    * compression behind billion-scale ANN indexes: each vector is cut
    * into [[PqSubspaces]] subvectors and each subvector snaps to its
    * nearest codeword in that subspace's [[PqCodebookSize]]-entry
    * codebook (squared-L2, tiebreak min code). 64 dims × 4 bytes become
    * ONE packed 32-bit code. Codebook: subvectors of the first
    * [[PqCodebookSize]] corpus vectors — the same deterministic k-means
    * stand-in as [[ivfTopK]]. One row per vector:
    * (vec_id, pq_code, recon_err = Σ per-subspace residual²).
    *
    * 100 TB shape: the codebook broadcasts (K × dim doubles); assignment
    * explodes the already-broadcast-joined frame by the constant
    * subspace count and argmins with map-side-combinable min_by — the
    * corpus shuffles only (vec_id, m, code, dist) quadruples, never
    * vectors. */
  def pqCodes(spark: SparkSession, sfDir: String): DataFrame = {
    val vs = vectors(spark, sfDir).select(col("vec_id"), col("v"))
    // r18: map-only packed assignment — code packing and the residual sum
    // are per-row folds over the 8-element assignment arrays (subspace
    // ascending; the former per-(vec, m) SUMs arrived in shuffle order,
    // which the oracle already compares under float tolerance)
    pqAssigned(vs, pqCodebook(vs)).select(col("vec_id"),
      (0 until PqSubspaces).map(m =>
        shiftleft(element_at(col("a.codes"), m + 1).cast("bigint"), 4 * m))
        .reduce(_ + _).as("pq_code"),
      (0 until PqSubspaces).map(m => element_at(col("a.dists"), m + 1))
        .reduce(_ + _).as("recon_err"))
  }

  /** The deterministic PQ codebook (see [[pqCodes]]). */
  private def pqCodebook(vs: DataFrame): DataFrame =
    vs.where(col("vec_id") < PqCodebookSize)
      .select(col("vec_id").cast("int").as("code"), col("v").as("cv"))

  /** Per-subspace squared-L2 to every codeword of a (code, cv) frame:
    * one row per (row of `left`, code, m) with the residual in `col`.
    * r18: the per-subspace fold is the native codegen'd
    * [[graft.functions.SubspaceSqDists]] (one pass over the 64 dims per
    * pair) instead of 8 interpreted slice+zip_with+aggregate chains —
    * bit-identical left-to-right IEEE folds. */
  private def pqSubDists(left: DataFrame, cents: DataFrame): DataFrame =
    left.join(broadcast(cents))
      .select((left.columns.filter(_ != "v").map(col) :+
        col("code") :+ posexplode(
          graft.functions.SubspaceSqDists.of(col("v"), col("cv"), PqSubDim)))
        .toIndexedSeq: _*)
      .withColumnRenamed("pos", "m").withColumnRenamed("col", "dist")

  /** Nearest codeword per (vector, subspace) as ONE row per vector:
    * (vec_id, a(codes array<int>, dists array<double>)), argmin
    * squared-L2, tiebreak min code — the native map-only
    * [[graft.functions.PqAssign]] over the packed broadcast codebook
    * (r18: the former explode + min_by(struct) planned as SortAggregate —
    * two full sorts and an exchange of the corpus×K×subspaces frame, per
    * PQ consumer; assignment now never enters an Exchange, the
    * [[kmeansAssign]] discipline). */
  private def pqAssigned(vs: DataFrame, cents: DataFrame): DataFrame = {
    val packed = cents
      .agg(sort_array(collect_list(struct(col("code"), col("cv")))).as("l"))
      .select(flatten(transform(col("l"), x => x.getField("cv"))).as("cf"))
    vs.crossJoin(broadcast(packed))
      // an EMPTY codebook must yield no assignments (the former join
      // semantics), not all-(-1) codes from the 1-row cross
      .where(size(col("cf")) > 0)
      .select(col("vec_id"),
        graft.functions.PqAssign.of(col("v"), col("cf"), PqSubDim).as("a"))
  }

  /** ADC (asymmetric distance computation) top-k over PQ codes — the
    * search half of product quantization: each query precomputes its
    * [[PqSubspaces]]×[[PqCodebookSize]] distance table, and every corpus
    * vector is scored by summing the table entries its stored code
    * selects — the corpus side never touches raw vectors, only the 4-byte
    * codes. Approximate by construction (quantized distances); output one
    * row per (query, rank ≤ k): (query_id, neighbor_id, rank, adc_dist),
    * nearest first, tiebreak min id.
    *
    * The per-pair sum folds the 8 subspace entries in subspace order
    * (sorted collect, sequential fold) so the oracle's association is
    * identical — a plain SUM over the exploded rows would be
    * order-nondeterministic exactly where exact duplicates tie.
    *
    * 100 TB shape: distance tables are queries × 128 doubles —
    * broadcast; the corpus contributes (vec_id, m, code) triples from the
    * stored assignment (at scale: the persisted code table), the join is
    * map-side against the broadcast, and the finisher is the bounded
    * [[graft.functions.TopKByScore]] aggregator — no global sort, no raw
    * vectors after indexing time. */
  def pqAdcTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val vs = vectors(spark, sfDir).select(col("vec_id"), col("v"))
    val cents = pqCodebook(vs)
    val pairs = pqCodeArrays(vs, cents)
      .crossJoin(broadcast(pqQueryTabArrays(vs, cents)))
      .where(col("vec_id") =!= col("query_id"))
    adcTopK(pairs)
  }

  /** Per-query ADC distance tables (queries × [[PqSubspaces]] ×
    * [[PqCodebookSize]] doubles — broadcast size at any corpus scale):
    * (query_id, m, code, qdist). */
  private def pqQueryTables(vs: DataFrame, cents: DataFrame): DataFrame =
    pqSubDists(
      vs.where(col("vec_id") < NumQueryVectors)
        .select(col("vec_id").as("query_id"), col("v")),
      cents).select(col("query_id"), col("m"), col("code"), col("dist").as("qdist"))

  /** Per-vector code ARRAY (codes[m] = nearest codeword in subspace m) —
    * r18: the ADC scorer consumes the whole assignment as one row per
    * vector, so the per-(query, vector, subspace) join fan-out and the
    * per-pair collect_list shuffle are gone from the search path; the
    * assignment itself is the map-only [[pqAssigned]]. */
  private def pqCodeArrays(vs: DataFrame, cents: DataFrame): DataFrame =
    pqAssigned(vs, cents).select(col("vec_id"), col("a.codes").as("codes"))

  /** Per-query FLATTENED ADC table (qtab[m·K + code] = qdist; m-major,
    * code ascending — every (m, code) cell exists because the table is
    * the full query×codebook distance grid). Broadcast size at any
    * corpus scale. */
  private def pqQueryTabArrays(vs: DataFrame, cents: DataFrame): DataFrame =
    pqQueryTables(vs, cents)
      .groupBy("query_id")
      .agg(transform(
        array_sort(collect_list(struct(col("m"), col("code"), col("qdist")))),
        x => x.getField("qdist")).as("qtab"))

  /** The ADC finisher shared by [[pqAdcTopK]] and [[ivfPqTopK]]: each
    * pair's distance folds the 8 table entries its code array selects,
    * in subspace order (sequential fold over m ascending — IEEE-identical
    * to the former sorted-collect fold, and the association the oracle
    * mirrors), then the bounded top-k. `pairs` needs columns
    * (query_id, vec_id, codes, qtab) — the fold is MAP-ONLY; no per-pair
    * shuffle exists anymore. */
  private def adcTopK(pairs: DataFrame): DataFrame = {
    val adc = pairs
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        // r18: native codegen'd fold (graft.functions.AdcDist) — the
        // interpreted aggregate(sequence(...)) HOF ran once per
        // (query, vector) pair, the innermost loop of the PQ search;
        // identical strict left-to-right IEEE fold in subspace order
        graft.functions.AdcDist.of(col("codes"), col("qtab"), PqCodebookSize)
          .as("adc"))
    graft.functions.TopKByScore
      .perGroup(adc.select(col("query_id"), col("neighbor_id"),
        (-col("adc")).as("cosine_sim")), TopK)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        (-col("cosine_sim")).as("adc_dist"))
  }

  /** IVF+PQ top-k — the composed billion-scale ANN architecture (FAISS's
    * IVFPQ): coarse quantizer prunes the corpus to the [[NProbe]] probed
    * lists per query, then ADC scores ONLY those candidates from their
    * stored PQ codes. Both stages reuse the verified pieces unchanged —
    * [[ivfTopK]]'s assignment/probing and [[pqAdcTopK]]'s
    * subspace-ordered ADC fold — so this query is their composition, not
    * a third implementation. Output: (query_id, neighbor_id, rank,
    * adc_dist), nearest first, tiebreak min id.
    *
    * 100 TB shape: at scale the code table is persisted partitioned by
    * cent_id, so the probe join prunes to nprobe/nlist of the CODES
    * (not vectors — 4 bytes each); distance tables broadcast; the
    * finisher is the bounded top-k aggregator. */
  def ivfPqTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val full = Staging.stage(vectors(spark, sfDir))
    val vs = full.select(col("vec_id"), col("v"))
    val cands = coarseCandidates(full)
    // ADC over the candidate set only: stored code arrays + broadcast
    // flattened tables (r18 — the scorer is map-only per candidate)
    val pqCents = pqCodebook(vs)
    val pairs = cands.join(pqCodeArrays(vs, pqCents), "vec_id")
      .join(broadcast(pqQueryTabArrays(vs, pqCents)), Seq("query_id"))
    adcTopK(pairs)
  }

  /** IVF+BQ top-k — [[ivfPqTopK]]'s 1-bit sibling and the third member
    * of the composed-index matrix (IVF×{flat, PQ, BQ}): the coarse
    * quantizer prunes the corpus to the [[NProbe]] probed lists per
    * query, Hamming distance over the 8-byte packed sign signatures
    * ranks ONLY those candidates ([[bqWord]] packing, the
    * [[probeHamming]] first pass), and exact cosine reranks the
    * ≤[[BqRerankDepth]] survivors. All three stages reuse the verified
    * pieces unchanged — [[ivfTopK]]'s assignment/probing,
    * [[hammingTopK]]'s signature scan, [[cosineTopK]]'s rerank contract —
    * so this query is their composition, not a fourth implementation.
    * Output: (query_id, neighbor_id, rank, cosine_sim).
    *
    * 100 TB shape: the probe join prunes to nprobe/nlist of the
    * SIGNATURES (8 bytes each — at scale the packed table is persisted
    * partitioned by cent_id, [[writeCodeTable]]'s layout at 1/4 the PQ
    * code width), queries broadcast, the bounded per-group aggregator
    * caps the float-vector reads at depth×|queries| rows — the corpus
    * never shuffles vectors through any stage. */
  def ivfBqTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val full = Staging.stage(vectors(spark, sfDir))
    val cands = coarseCandidates(full)
    val packed = full.select(col("vec_id"),
      bqWord(col("v"), 0).as("lo"), bqWord(col("v"), 1).as("hi"))
    val qp = packed.where(col("vec_id") < NumQueryVectors)
      .select(col("vec_id").as("query_id"),
        col("lo").as("qlo"), col("hi").as("qhi"))
    val ham = cands.join(packed, "vec_id")
      .join(broadcast(qp), Seq("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (-(bit_count(col("lo").bitwiseXOR(col("qlo"))) +
            bit_count(col("hi").bitwiseXOR(col("qhi")))))
          .cast("double").as("cosine_sim"))
    val keep = graft.functions.TopKByScore.perGroup(ham, BqRerankDepth)
      .select("query_id", "neighbor_id")
    val rescored = full.select(col("vec_id"), col("v"), col("nrm"))
      .join(broadcast(keep), col("vec_id") === col("neighbor_id"))
      .join(broadcast(full.where(col("vec_id") < NumQueryVectors)
        .select(col("vec_id").as("query_id"),
          col("v").as("qv"), col("nrm").as("qn"))), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("v"), col("qv")) / (col("nrm") * col("qn"))).as("cosine_sim"))
    topKPerQuery(rescored)
  }

  /** Persist the IVF+PQ index artifact: one row per (vector, subspace)
    * with its code, PARTITIONED by the vector's coarse centroid — the
    * layout [[ivfPqTopK]]'s scale note promises: a probe restricted to
    * nprobe lists prunes to those cent_id directories at planning time
    * and never reads the rest (pinned in `PqCodeTableSpec`, the
    * [[graft.operators.Corpus.writeSharded]] pattern applied to the ANN
    * index). Columns: (vec_id, m, code, cent_id). */
  def writeCodeTable(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    val full = Staging.stage(vectors(spark, sfDir))
    val vs = full.select(col("vec_id"), col("v"))
    val assign = coarseAssign(full)
    pqAssigned(vs, pqCodebook(vs))
      .select(col("vec_id"), posexplode(col("a.codes")))
      .select(col("vec_id"), col("pos").as("m"), col("col").as("code"))
      .join(assign, "vec_id")
      .repartition(col("cent_id"))
      .write.partitionBy("cent_id").mode("overwrite").parquet(outDir)
  }

  /** Persist / reload the trained quantizer — the model artifact between
    * [[kmeansCentroids]] (train once, offline) and its consumers
    * ([[kmeansProbe]], batch or on [[graft.streaming.StreamingScorer]],
    * `ivfTrainedTopK`-style searches): K rows of (cent_id, cv) as plain
    * parquet. Deliberately unpartitioned — the whole model is K×dim
    * values, broadcast-sized by construction at any corpus scale (the
    * corpus-sized artifacts are the ones that persist bucketed/partitioned:
    * [[Dedup.saveIndex]], [[writeCodeTable]]). */
  def saveCentroids(cents: DataFrame, outDir: String): Unit =
    cents.coalesce(1).write.mode("overwrite").parquet(outDir)

  def loadCentroids(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_ivf_pq_topk" -> (ivfPqTopK _),
    "sim_ivf_bq_topk" -> (ivfBqTopK _),
    "sim_pq" -> (pqCodes _),
    "sim_pq_adc_topk" -> (pqAdcTopK _),
    "sim_cosine_topk" -> (cosineTopK _),
    "sim_hard_negatives" -> (hardNegatives _),
    "sim_triplets" -> (tripletMining _),
    "sim_knn_classify" -> (knnClassify _),
    "sim_mips_topk" -> (mipsTopK _),
    "sim_range_join" -> (rangeSimJoin _),
    "sim_ann_lsh_topk" -> (annLshTopK _),
    "sim_ann_recall" -> (annRecall _),
    "sim_matryoshka_recall" -> (matryoshkaRecall _),
    "sim_ivf_topk" -> (ivfTopK _),
    "sim_quantize_int8" -> (quantizeInt8 _),
    "sim_binary_quantize" -> (binaryQuantize _),
    "sim_hamming_topk" -> (hammingTopK _),
    "sim_bq_probe" -> (bqProbe _),
    "sim_bq_recall" -> (bqRecall _),
    "sim_embedding_audit" -> (embeddingAudit _),
    "sim_embedding_coverage" -> (embeddingCoverage _),
    "sim_mmr_topk" -> (mmrTopK _),
    "sim_reciprocal_nn" -> (reciprocalNn _),
    "sim_kmeans_train" -> (kmeansTrain _),
    "sim_ivf_trained_topk" -> (ivfTrainedTopK _),
    "sim_cluster_purity" -> (clusterPurity _),
    "sim_silhouette" -> (silhouette _),
    "sim_ivf_recall" -> (ivfRecall _),
    "sim_pq_recall" -> (pqRecall _),
    "sim_ivf_nprobe_curve" -> (ivfNprobeCurve _),
    "sim_lsh_bands_curve" -> (lshBandsCurve _),
    "sim_dim_variance" -> (dimVariance _),
    "dedup_embedding" -> (embeddingDedup _),
    "dedup_semantic" -> (semanticDedup _),
  )

  /** One unrolled Lloyd iteration of the k-means oracle: assignment by the
    * same fixed-order d² scalar expression, float32-rounded per-dimension
    * means, empty clusters carried forward — the exact SQL twin of
    * [[kmeansAssign]]+[[kmeansUpdate]]. */
  /** The d²-scoring CTE body `(vec_id, v, cent_id, d2)` of corpus relation
    * `vs` against centroid relation `centsRel` — ONE text for the
    * iteration, final-rollup, and trained-IVF assignment scans so the
    * scalar-op order can never drift between them (the r6 ADVICE
    * three-copies lesson, applied up front). */
  /** The PQ-ADC CTE prologue ending in relation `adc(query_id,
    * neighbor_id, adc)` — ONE text shared by the `sim_pq_adc_topk` and
    * `sim_pq_recall` oracles (the kmeansScoreSql one-text discipline). */
  private def pqAdcCtesSql: String =
    s"""vs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |   WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
       |                          CAST(embedding AS DOUBLE[])) > 0),
       | c AS (SELECT CAST(vec_id AS INTEGER) AS code, v AS cv FROM vs
       |   WHERE vec_id < $PqCodebookSize),
       | d AS (SELECT vs.vec_id, c.code, CAST(t.m AS INTEGER) AS m,
       |     list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range($PqSubDim),
       |       i -> (vs.v[CAST(t.m * $PqSubDim + i + 1 AS INTEGER)]
       |             - c.cv[CAST(t.m * $PqSubDim + i + 1 AS INTEGER)])
       |          * (vs.v[CAST(t.m * $PqSubDim + i + 1 AS INTEGER)]
       |             - c.cv[CAST(t.m * $PqSubDim + i + 1 AS INTEGER)]))),
       |       (a, b) -> a + b) AS dist
       |   FROM vs CROSS JOIN c CROSS JOIN range($PqSubspaces) t(m)),
       | best AS (SELECT vec_id, m, code FROM (
       |   SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
       |     ORDER BY dist ASC, code ASC) AS rn FROM d) WHERE rn = 1),
       | dt AS (SELECT vec_id AS query_id, m, code, dist AS qdist FROM d
       |   WHERE vec_id < $NumQueryVectors),
       | adc AS (SELECT dt.query_id, b.vec_id AS neighbor_id,
       |     list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |       list(dt.qdist ORDER BY dt.m)), (a, b) -> a + b) AS adc
       |   FROM best b JOIN dt ON dt.m = b.m AND dt.code = b.code
       |   WHERE b.vec_id <> dt.query_id
       |   GROUP BY dt.query_id, b.vec_id)""".stripMargin

  /** Exact-L2 reference CTEs over a `vs(vec_id, v)` relation:
    * `exq` (the query block), `ex` (all scored pairs), `ex_tk` (the
    * top-[[TopK]] truth lists) — shared by every recall referee. */
  private def exactL2TkSqlWith: String =
    s"""exq AS (SELECT vec_id AS query_id, v AS qv FROM vs
       |   WHERE vec_id < $NumQueryVectors),
       | ex AS (SELECT exq.query_id, vs.vec_id AS neighbor_id,
       |   list_dot_product(vs.v, vs.v) - 2 * list_dot_product(vs.v, exq.qv)
       |     + list_dot_product(exq.qv, exq.qv) AS d2
       |   FROM vs CROSS JOIN exq WHERE vs.vec_id <> exq.query_id),
       | ex_tk AS (SELECT query_id, neighbor_id FROM (SELECT *,
       |   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2 ASC,
       |     neighbor_id ASC) AS rank FROM ex) WHERE rank <= $TopK)""".stripMargin

  /** The recall rollup over `ex_tk` vs an approximate top-k relation. */
  private def recallTailSql(approxRel: String): String =
    s"""hits AS (SELECT e.query_id, COUNT(*) AS n FROM ex_tk e
       |   JOIN $approxRel a USING (query_id, neighbor_id)
       |   GROUP BY e.query_id)
       | SELECT exq.query_id,
       |   CAST(COALESCE(hits.n, 0) AS DOUBLE) / $TopK AS recall_at_k
       | FROM exq LEFT JOIN hits ON hits.query_id = exq.query_id""".stripMargin

  private def kmeansScoreSql(centsRel: String): String =
    s"""SELECT vs.vec_id, vs.v, c.cent_id,
       |   list_dot_product(vs.v, vs.v) - 2 * list_dot_product(vs.v, c.cv)
       |     + list_dot_product(c.cv, c.cv) AS d2
       |   FROM vs CROSS JOIN $centsRel c""".stripMargin

  private def kmeansIterSql(i: Int): String = {
    val p = s"c${i - 1}"
    s"""s$i AS (${kmeansScoreSql(p)}),
       | a$i AS (SELECT vec_id, v, cent_id FROM (SELECT *, ROW_NUMBER() OVER
       |   (PARTITION BY vec_id ORDER BY d2 ASC, cent_id ASC) AS rn FROM s$i)
       |   WHERE rn = 1),
       | m$i AS (SELECT cent_id, pos, CAST(CAST(avg(x) AS REAL) AS DOUBLE) AS nx
       |   FROM (SELECT cent_id, unnest(v) AS x, generate_subscripts(v, 1) AS pos
       |     FROM a$i) z GROUP BY cent_id, pos),
       | n$i AS (SELECT cent_id, list(nx ORDER BY pos) AS cv FROM m$i GROUP BY cent_id),
       | c$i AS (SELECT c.cent_id, COALESCE(n.cv, c.cv) AS cv
       |   FROM $p c LEFT JOIN n$i n USING (cent_id))""".stripMargin
  }

  /** Shared oracle prologue: corpus as DOUBLE[], deterministic init, the
    * [[KmeansIters]] unrolled Lloyd rounds ending in relation
    * `c$KmeansIters(cent_id, cv)` — one text for the `sim_kmeans_train`
    * and `sim_ivf_trained_topk` oracles so they can never train apart. */
  private def kmeansCtesSql: String =
    s"""vs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |   WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
       |                          CAST(embedding AS DOUBLE[])) > 0),
       | c0 AS (SELECT vec_id AS cent_id, v AS cv FROM vs WHERE vec_id < $KmeansK),
       | ${(1 to KmeansIters).map(kmeansIterSql).mkString(",\n ")}""".stripMargin

  /** The 32 hyperplanes as '0'/'1' sign strings (bit d = plane component d
    * is +1), interpolated into the ANN oracle as literals so DuckDB builds
    * bit-identical signatures. */
  private def planeBits(j: Int, dim: Int): String =
    (0 until dim).map(d => if (planeSign(j, d) > 0) '1' else '0').mkString

  private def planesValues(nPlanes: Int, dim: Int): String =
    (0 until nPlanes).map(j => s"($j, '${planeBits(j, dim)}')").mkString(", ")

  /** Shared oracle CTE prologue: plane lists, normed vectors, banded
    * signatures (`bitsPerBand`-bit packing, as [[signatureBands]]). */
  private[operators] def bandsSqlWith(nPlanes: Int, bitsPerBand: Int): String =
    s"""planes(j, s) AS (VALUES ${planesValues(nPlanes, 64)}),
       | pl AS (SELECT j, list_transform(range(64),
       |     d -> CASE WHEN substring(s, CAST(d + 1 AS INTEGER), 1) = '1'
       |          THEN 1.0 ELSE -1.0 END) AS p FROM planes),
       | vs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |   sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
       |                         CAST(embedding AS DOUBLE[]))) AS nrm
       |   FROM embeddings WHERE list_dot_product(
       |     CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0),
       | bits AS (SELECT vec_id, j,
       |     CASE WHEN list_dot_product(v, p) >= 0
       |          THEN (1 << CAST(j % $bitsPerBand AS INTEGER))
       |          ELSE 0 END AS bit
       |   FROM vs CROSS JOIN pl),
       | bands AS (SELECT vec_id,
       |     CAST(j // $bitsPerBand AS INTEGER) AS band,
       |     SUM(bit) AS bv
       |   FROM bits GROUP BY 1, 2)""".stripMargin

  /** SQL mirror of [[bqWord]] packing + the Hamming candidate/rerank CTE
    * chain ending in `scored(query_id, neighbor_id, cosine_sim)` — ONE
    * text shared by the `sim_hamming_topk` and `sim_bq_recall` oracles
    * (the bandsSqlWith one-text discipline), with the packing prefix
    * alone reused by `sim_binary_quantize`. Integer packing, xor and
    * popcount are exact on both engines; the candidate boundary breaks
    * ties (hamming asc, id asc) exactly like the bounded aggregator. */
  private def bqSqlWith: String =
    s"""vs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |   sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
       |                         CAST(embedding AS DOUBLE[]))) AS nrm
       |   FROM embeddings WHERE list_dot_product(
       |     CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0),
       | bq AS (SELECT vec_id,
       |   CAST(list_sum(list_transform(range($BqWordBits),
       |     i -> CASE WHEN v[CAST(i + 1 AS INTEGER)] > 0
       |          THEN (1::BIGINT << CAST(i AS INTEGER))
       |          ELSE 0::BIGINT END)) AS BIGINT) AS lo,
       |   CAST(list_sum(list_transform(range($BqWordBits),
       |     i -> CASE WHEN v[CAST(i + $BqWordBits + 1 AS INTEGER)] > 0
       |          THEN (1::BIGINT << CAST(i AS INTEGER))
       |          ELSE 0::BIGINT END)) AS BIGINT) AS hi
       |   FROM vs)""".stripMargin

  private def bqScoredSqlWith: String = bqScoredSqlWithPred("c.vec_id <> q.vec_id")

  /** [[bqScoredSqlWith]] with the corpus-membership predicate swapped —
    * `sim_bq_probe` restricts candidates to the index side
    * (`c.vec_id >= NumQueryVectors`); the Spark probe's self-exclusion
    * join condition is vacuously true there, so both engines see the
    * same candidate universe. */
  private def bqScoredSqlWithPred(corpusPred: String): String =
    s"""$bqSqlWith,
       | h AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |     bit_count(xor(c.lo, q.lo)) + bit_count(xor(c.hi, q.hi)) AS hamming
       |   FROM bq c, bq q
       |   WHERE q.vec_id < $NumQueryVectors AND $corpusPred),
       | cand AS (SELECT query_id, neighbor_id FROM (SELECT *,
       |     ROW_NUMBER() OVER (PARTITION BY query_id
       |       ORDER BY hamming ASC, neighbor_id ASC) AS cr FROM h)
       |   WHERE cr <= $BqRerankDepth),
       | scored AS (SELECT cand.query_id, cand.neighbor_id,
       |     list_dot_product(vc.v, vq.v) / (vc.nrm * vq.nrm) AS cosine_sim
       |   FROM cand JOIN vs vc ON vc.vec_id = cand.neighbor_id
       |   JOIN vs vq ON vq.vec_id = cand.query_id)""".stripMargin

  // Both similarity queries are fully oracle-checked: the ANN hyperplanes
  // are deterministic literals on both engines, and dot products fold in
  // identical element order (Spark sequential aggregate ≡ DuckDB
  // list_dot_product), so the candidate sets match exactly.
  /** SQL mirror of [[mmrTopK]], generated from the SAME constants and
    * unroll depth as the Spark side: per-step CTE pairs (m_t = per-
    * candidate max-sim-to-selected, s_t = argmax append), selection
    * carried as a DuckDB LIST exactly like the Spark array. Scores are
    * bit-identical (same literals, same IEEE op order), so the argmax
    * tie-break (score desc, id asc) agrees. */
  private def mmrSql: String = {
    val steps = (2 to MmrK).map { t =>
      s"""m$t AS (SELECT c.query_id, c.neighbor_id, c.rel, s.sel,
         |     MAX(p.psim) AS maxsim
         |   FROM cands c JOIN s${t - 1} s ON s.query_id = c.query_id
         |   JOIN pairs p ON p.query_id = c.query_id
         |     AND p.a = c.neighbor_id AND list_contains(s.sel, p.b)
         |   WHERE NOT list_contains(s.sel, c.neighbor_id)
         |   GROUP BY c.query_id, c.neighbor_id, c.rel, s.sel),
         | s$t AS (SELECT query_id, list_append(sel, neighbor_id) AS sel FROM (
         |   SELECT *, row_number() OVER (PARTITION BY query_id
         |     ORDER BY ($MmrLambda * rel - $MmrDiversity * maxsim) DESC,
         |       neighbor_id ASC) AS rn
         |   FROM m$t) WHERE rn = 1)""".stripMargin
    }.mkString(",\n ")
    val fin = (1 to MmrK).map { i =>
      s"""SELECT query_id, CAST($i AS INTEGER) AS rank, sel[$i] AS neighbor_id
         | FROM s$MmrK""".stripMargin
    }.mkString("\n UNION ALL ")
    s"""WITH vs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |   sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
       |                         CAST(embedding AS DOUBLE[]))) AS nrm
       |   FROM embeddings WHERE list_dot_product(
       |     CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0),
       | q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM vs
       |   WHERE vec_id < $NumQueryVectors),
       | scoredc AS (SELECT q.query_id, vs.vec_id AS neighbor_id,
       |     list_dot_product(vs.v, q.qv) / (vs.nrm * q.qn) AS rel
       |   FROM vs CROSS JOIN q WHERE vs.vec_id <> q.query_id),
       | cands AS (SELECT query_id, neighbor_id, rel FROM (
       |   SELECT *, row_number() OVER (PARTITION BY query_id
       |     ORDER BY rel DESC, neighbor_id ASC) AS rn FROM scoredc)
       |   WHERE rn <= $MmrPool),
       | pairs AS (SELECT ca.query_id, ca.neighbor_id AS a, cb.neighbor_id AS b,
       |     list_dot_product(x.v, y.v) / (x.nrm * y.nrm) AS psim
       |   FROM cands ca JOIN cands cb ON ca.query_id = cb.query_id
       |     AND ca.neighbor_id <> cb.neighbor_id
       |   JOIN vs x ON x.vec_id = ca.neighbor_id
       |   JOIN vs y ON y.vec_id = cb.neighbor_id),
       | s1 AS (SELECT query_id, [neighbor_id] AS sel FROM (
       |   SELECT *, row_number() OVER (PARTITION BY query_id
       |     ORDER BY rel DESC, neighbor_id ASC) AS rn FROM cands)
       |   WHERE rn = 1),
       | $steps
       | $fin""".stripMargin
  }

  /** One sweep point of the `sim_matryoshka_recall` oracle: exact top-k
    * over the d-dim prefix (same tiebreak as the reference ranking),
    * counted against `exact_tk`. Shared template so a tiebreak or guard
    * change cannot drift between sweep points. */
  private def matryoshkaDimSql(d: Int): String =
    s"""SELECT CAST($d AS BIGINT) AS dim,
       |   CAST(COALESCE((SELECT COUNT(*) FROM exact_tk e JOIN (
       |     WITH tv AS (SELECT vec_id, v[1:$d] AS v,
       |         sqrt(list_dot_product(v[1:$d], v[1:$d])) AS nrm
       |       FROM vs WHERE sqrt(list_dot_product(v[1:$d], v[1:$d])) > 0),
       |     tq AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM tv
       |       WHERE vec_id < $NumQueryVectors),
       |     scored AS (SELECT tq.query_id, tv.vec_id AS neighbor_id,
       |         list_dot_product(tv.v, tq.qv) / (tv.nrm * tq.qn) AS cosine_sim
       |       FROM tv CROSS JOIN tq WHERE tv.vec_id <> tq.query_id)
       |     SELECT query_id, neighbor_id FROM (SELECT *,
       |       ROW_NUMBER() OVER (PARTITION BY query_id
       |         ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank FROM scored)
       |     WHERE rank <= $TopK
       |   ) t ON t.query_id = e.query_id AND t.neighbor_id = e.neighbor_id), 0)
       |   AS BIGINT) AS n_hits""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "sim_matryoshka_recall" ->
      s"""WITH vs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |     sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
         |                           CAST(embedding AS DOUBLE[]))) AS nrm
         |   FROM embeddings WHERE list_dot_product(
         |     CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0),
         | q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM vs
         |   WHERE vec_id < $NumQueryVectors),
         | fscored AS (SELECT q.query_id, vs.vec_id AS neighbor_id,
         |     list_dot_product(vs.v, q.qv) / (vs.nrm * q.qn) AS cosine_sim
         |   FROM vs CROSS JOIN q WHERE vs.vec_id <> q.query_id),
         | exact_tk AS (SELECT query_id, neighbor_id FROM (SELECT *,
         |     ROW_NUMBER() OVER (PARTITION BY query_id
         |       ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank FROM fscored)
         |   WHERE rank <= $TopK),
         | per_dim AS (
         | ${MatryoshkaDims.map(matryoshkaDimSql).mkString("", "\n UNION ALL\n ", "")})
         | SELECT dim, n_hits,
         |   CAST(n_hits AS DOUBLE) / ${TopK * NumQueryVectors}.0
         |     AS mean_recall_at_k
         | FROM per_dim""".stripMargin,
    "sim_ivf_pq_topk" ->
      s"""WITH vs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |   sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
         |                         CAST(embedding AS DOUBLE[]))) AS nrm
         |   FROM embeddings WHERE list_dot_product(
         |     CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0),
         | cents AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM vs
         |   WHERE vec_id < $NumCentroids),
         | scored AS (SELECT vs.vec_id, cent_id,
         |     list_dot_product(vs.v, cv) / (vs.nrm * cn) AS cs
         |   FROM vs CROSS JOIN cents),
         | assign AS (SELECT vec_id, cent_id FROM (
         |   SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |     ORDER BY cs DESC, cent_id ASC) AS rn FROM scored) WHERE rn = 1),
         | probes AS (SELECT vec_id AS query_id, cent_id FROM (
         |   SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |     ORDER BY cs DESC, cent_id ASC) AS rn FROM scored
         |   WHERE vec_id < $NumQueryVectors) WHERE rn <= $NProbe),
         | cands AS (SELECT DISTINCT p.query_id, a.vec_id
         |   FROM assign a JOIN probes p ON a.cent_id = p.cent_id
         |   WHERE a.vec_id <> p.query_id),
         | pqc AS (SELECT CAST(vec_id AS INTEGER) AS code, v AS cv FROM vs
         |   WHERE vec_id < $PqCodebookSize),
         | d AS (SELECT vs.vec_id, pqc.code, CAST(t.m AS INTEGER) AS m,
         |     list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range($PqSubDim),
         |       i -> (vs.v[CAST(t.m * $PqSubDim + i + 1 AS INTEGER)]
         |             - pqc.cv[CAST(t.m * $PqSubDim + i + 1 AS INTEGER)])
         |          * (vs.v[CAST(t.m * $PqSubDim + i + 1 AS INTEGER)]
         |             - pqc.cv[CAST(t.m * $PqSubDim + i + 1 AS INTEGER)]))),
         |       (a, b) -> a + b) AS dist
         |   FROM vs CROSS JOIN pqc CROSS JOIN range($PqSubspaces) t(m)),
         | best AS (SELECT vec_id, m, code FROM (
         |   SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
         |     ORDER BY dist ASC, code ASC) AS rn FROM d) WHERE rn = 1),
         | dt AS (SELECT vec_id AS query_id, m, code, dist AS qdist FROM d
         |   WHERE vec_id < $NumQueryVectors),
         | adc AS (SELECT c.query_id, c.vec_id AS neighbor_id,
         |     list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |       list(dt.qdist ORDER BY dt.m)), (a, b) -> a + b) AS adc
         |   FROM cands c
         |   JOIN best b ON b.vec_id = c.vec_id
         |   JOIN dt ON dt.query_id = c.query_id AND dt.m = b.m
         |     AND dt.code = b.code
         |   GROUP BY c.query_id, c.vec_id)
         | SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
         |   adc AS adc_dist
         | FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |   ORDER BY adc ASC, neighbor_id ASC) AS rank FROM adc)
         | WHERE rank <= $TopK""".stripMargin,

    "sim_pq" ->
      s"""WITH vs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |   WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
         |                          CAST(embedding AS DOUBLE[])) > 0),
         | c AS (SELECT CAST(vec_id AS INTEGER) AS code, v AS cv FROM vs
         |   WHERE vec_id < $PqCodebookSize),
         | d AS (SELECT vs.vec_id, c.code, CAST(t.m AS INTEGER) AS m,
         |     list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range($PqSubDim),
         |       i -> (vs.v[CAST(t.m * $PqSubDim + i + 1 AS INTEGER)]
         |             - c.cv[CAST(t.m * $PqSubDim + i + 1 AS INTEGER)])
         |          * (vs.v[CAST(t.m * $PqSubDim + i + 1 AS INTEGER)]
         |             - c.cv[CAST(t.m * $PqSubDim + i + 1 AS INTEGER)]))),
         |       (a, b) -> a + b) AS dist
         |   FROM vs CROSS JOIN c CROSS JOIN range($PqSubspaces) t(m)),
         | best AS (SELECT vec_id, m, code, dist FROM (
         |   SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
         |     ORDER BY dist ASC, code ASC) AS rn FROM d) WHERE rn = 1)
         | SELECT vec_id,
         |   CAST(SUM(CAST(code AS BIGINT) * (1::BIGINT << (4 * m))) AS BIGINT)
         |     AS pq_code,
         |   SUM(dist) AS recon_err
         | FROM best GROUP BY vec_id""".stripMargin,

    "sim_pq_adc_topk" ->
      s"""WITH $pqAdcCtesSql
         | SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
         |   adc AS adc_dist
         | FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |   ORDER BY adc ASC, neighbor_id ASC) AS rank FROM adc)
         | WHERE rank <= $TopK""".stripMargin,

    "sim_pq_recall" ->
      s"""WITH $pqAdcCtesSql,
         | pq_tk AS (SELECT query_id, neighbor_id FROM (SELECT *,
         |   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc ASC,
         |     neighbor_id ASC) AS rank FROM adc) WHERE rank <= $TopK),
         | $exactL2TkSqlWith,
         | ${recallTailSql("pq_tk")}""".stripMargin,

    "sim_quantize_int8" ->
      s"""WITH vs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         | m AS (SELECT vec_id, v,
         |   list_max(list_transform(v, x -> abs(x))) AS ma FROM vs),
         | s AS (SELECT vec_id, v,
         |   CASE WHEN ma = 0 THEN CAST(1.0 AS DOUBLE)
         |        ELSE 127.0 / ma END AS scale FROM m),
         | q AS (SELECT vec_id, v, scale,
         |   list_transform(v, x -> CAST(round(x * scale) AS BIGINT)) AS qv FROM s)
         | SELECT vec_id, scale,
         |   CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1,
         |   CAST(list_sum(list_transform(range(len(qv)),
         |     i -> (i + 1) * qv[CAST(i + 1 AS INTEGER)])) AS BIGINT) AS q_checksum,
         |   list_max(list_transform(range(len(qv)),
         |     i -> abs(v[CAST(i + 1 AS INTEGER)]
         |              - qv[CAST(i + 1 AS INTEGER)] / scale))) AS max_abs_err
         | FROM q""".stripMargin,

    "sim_binary_quantize" ->
      s"""WITH $bqSqlWith
         | SELECT b.vec_id, b.lo AS bsig_lo, b.hi AS bsig_hi,
         |   CAST(bit_count(b.lo) + bit_count(b.hi) AS BIGINT) AS n_pos
         | FROM bq b""".stripMargin,

    "sim_hamming_topk" ->
      s"""WITH $bqScoredSqlWith
         | SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cosine_sim
         | FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |   ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank FROM scored)
         | WHERE rank <= $TopK""".stripMargin,

    "sim_bq_probe" ->
      s"""WITH ${bqScoredSqlWithPred(s"c.vec_id >= $NumQueryVectors")}
         | SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cosine_sim
         | FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |   ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank FROM scored)
         | WHERE rank <= $TopK""".stripMargin,

    "sim_bq_recall" ->
      s"""WITH exact_tk AS (
         |   SELECT query_id, neighbor_id FROM (
         |     WITH vs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
         |                               CAST(embedding AS DOUBLE[]))) AS nrm
         |   FROM embeddings WHERE list_dot_product(
         |     CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0),
         |     q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM vs
         |       WHERE vec_id < $NumQueryVectors),
         |     scored AS (SELECT q.query_id, vs.vec_id AS neighbor_id,
         |       list_dot_product(vs.v, q.qv) / (vs.nrm * q.qn) AS cosine_sim
         |       FROM vs CROSS JOIN q WHERE vs.vec_id <> q.query_id)
         |     SELECT query_id, neighbor_id FROM (SELECT *,
         |       ROW_NUMBER() OVER (PARTITION BY query_id
         |         ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank FROM scored)
         |     WHERE rank <= $TopK)),
         | bq_tk AS (
         |   SELECT query_id, neighbor_id FROM (
         |     WITH $bqScoredSqlWith
         |     SELECT query_id, neighbor_id FROM (SELECT *,
         |       ROW_NUMBER() OVER (PARTITION BY query_id
         |         ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank FROM scored)
         |     WHERE rank <= $TopK)),
         | hits AS (SELECT e.query_id, COUNT(*) AS n FROM exact_tk e
         |   JOIN bq_tk a ON a.query_id = e.query_id
         |     AND a.neighbor_id = e.neighbor_id
         |   GROUP BY e.query_id)
         | SELECT q.query_id,
         |   CAST(COALESCE(hits.n, 0) AS DOUBLE) / $TopK AS recall_at_k
         | FROM (SELECT DISTINCT query_id FROM exact_tk) q
         | LEFT JOIN hits ON q.query_id = hits.query_id""".stripMargin,

    "sim_ann_lsh_topk" ->
      s"""WITH ${bandsSqlWith(SignatureBits, SignatureBits / BandsPerSignature)},
         | cands AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
         |   FROM bands c JOIN bands q ON c.band = q.band AND c.bv = q.bv
         |   WHERE q.vec_id < $NumQueryVectors AND c.vec_id <> q.vec_id),
         | scored AS (SELECT query_id, neighbor_id,
         |     list_dot_product(vc.v, vq.v) / (vc.nrm * vq.nrm) AS cosine_sim
         |   FROM cands JOIN vs vc ON vc.vec_id = cands.neighbor_id
         |   JOIN vs vq ON vq.vec_id = cands.query_id)
         | SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cosine_sim
         | FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |   ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank FROM scored)
         | WHERE rank <= $TopK""".stripMargin,

    "sim_range_join" ->
      s"""WITH ${bandsSqlWith(DedupPlanes, DedupPlanes / DedupBands)},
         | okb AS (SELECT band, bv FROM bands GROUP BY band, bv
         |   HAVING COUNT(*) BETWEEN 2 AND $MaxVecBucket),
         | cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
         |   FROM bands x
         |   JOIN okb o ON x.band = o.band AND x.bv = o.bv
         |   JOIN bands y ON y.band = x.band AND y.bv = x.bv
         |   WHERE x.vec_id < y.vec_id)
         | SELECT c.a, c.b,
         |   list_dot_product(x.v, y.v) / (x.nrm * y.nrm) AS cosine_sim
         | FROM cand c
         |   JOIN vs x ON x.vec_id = c.a JOIN vs y ON y.vec_id = c.b
         | WHERE list_dot_product(x.v, y.v) / (x.nrm * y.nrm) >= $RangeSimTau""".stripMargin,

    "dedup_embedding" ->
      s"""WITH RECURSIVE ${bandsSqlWith(DedupPlanes, DedupPlanes / DedupBands)},
         | okb AS (SELECT band, bv FROM bands GROUP BY band, bv
         |   HAVING COUNT(*) BETWEEN 2 AND $MaxVecBucket),
         | cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
         |   FROM bands x
         |   JOIN okb o ON x.band = o.band AND x.bv = o.bv
         |   JOIN bands y ON y.band = x.band AND y.bv = x.bv
         |   WHERE x.vec_id < y.vec_id),
         | edges AS (SELECT c.a, c.b FROM cand c
         |   JOIN vs x ON x.vec_id = c.a JOIN vs y ON y.vec_id = c.b
         |   WHERE list_dot_product(x.v, y.v) / (x.nrm * y.nrm) >= $CosDupThreshold),
         | und AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
         | reach(src, dst) AS (
         |   SELECT a, b FROM und
         |   UNION
         |   SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a),
         | allv AS (SELECT vec_id FROM embeddings),
         | comp AS (SELECT v.vec_id AS id,
         |     LEAST(v.vec_id, COALESCE(MIN(r.dst), v.vec_id)) AS component
         |   FROM allv v LEFT JOIN reach r ON r.src = v.vec_id GROUP BY v.vec_id),
         | sizes AS (SELECT component, COUNT(*) AS sz FROM comp GROUP BY component)
         | SELECT c.id AS vec_id, c.component AS cluster_id,
         |   CAST(s.sz - 1 AS BIGINT) AS n_dups
         | FROM comp c JOIN sizes s ON c.component = s.component""".stripMargin,

    // the recall oracle nests the two already-verified oracles verbatim as
    // CTE subqueries (their inner WITHs scope locally), so the metric
    // cannot drift from the results it measures
    "sim_ann_recall" ->
      s"""WITH exact_tk AS (
         |   SELECT query_id, neighbor_id FROM (
         |     WITH vs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
         |                               CAST(embedding AS DOUBLE[]))) AS nrm
         |   FROM embeddings WHERE list_dot_product(
         |     CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0),
         |     q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM vs
         |       WHERE vec_id < $NumQueryVectors),
         |     scored AS (SELECT q.query_id, vs.vec_id AS neighbor_id,
         |       list_dot_product(vs.v, q.qv) / (vs.nrm * q.qn) AS cosine_sim
         |       FROM vs CROSS JOIN q WHERE vs.vec_id <> q.query_id)
         |     SELECT query_id, neighbor_id FROM (SELECT *,
         |       ROW_NUMBER() OVER (PARTITION BY query_id
         |         ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank FROM scored)
         |     WHERE rank <= $TopK)),
         | ann_tk AS (
         |   SELECT query_id, neighbor_id FROM (
         |     WITH ${bandsSqlWith(SignatureBits, SignatureBits / BandsPerSignature)},
         |     cands AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
         |       FROM bands c JOIN bands q ON c.band = q.band AND c.bv = q.bv
         |       WHERE q.vec_id < $NumQueryVectors AND c.vec_id <> q.vec_id),
         |     scored AS (SELECT query_id, neighbor_id,
         |         list_dot_product(vc.v, vq.v) / (vc.nrm * vq.nrm) AS cosine_sim
         |       FROM cands JOIN vs vc ON vc.vec_id = cands.neighbor_id
         |       JOIN vs vq ON vq.vec_id = cands.query_id)
         |     SELECT query_id, neighbor_id FROM (SELECT *,
         |       ROW_NUMBER() OVER (PARTITION BY query_id
         |         ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank FROM scored)
         |     WHERE rank <= $TopK)),
         | hits AS (SELECT e.query_id, COUNT(*) AS n FROM exact_tk e
         |   JOIN ann_tk a ON a.query_id = e.query_id
         |     AND a.neighbor_id = e.neighbor_id
         |   GROUP BY e.query_id)
         | SELECT q.query_id,
         |   CAST(COALESCE(hits.n, 0) AS DOUBLE) / $TopK AS recall_at_k
         | FROM (SELECT DISTINCT query_id FROM exact_tk) q
         | LEFT JOIN hits ON q.query_id = hits.query_id""".stripMargin,

    "sim_ivf_topk" ->
      s"""WITH vs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |   sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
         |                         CAST(embedding AS DOUBLE[]))) AS nrm
         |   FROM embeddings WHERE list_dot_product(
         |     CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0),
         | cents AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM vs
         |   WHERE vec_id < $NumCentroids),
         | scored AS (SELECT vs.vec_id, cent_id,
         |     list_dot_product(vs.v, cv) / (vs.nrm * cn) AS cs
         |   FROM vs CROSS JOIN cents),
         | assign AS (SELECT vec_id, cent_id FROM (
         |   SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |     ORDER BY cs DESC, cent_id ASC) AS rn FROM scored) WHERE rn = 1),
         | probes AS (SELECT vec_id AS query_id, cent_id FROM (
         |   SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |     ORDER BY cs DESC, cent_id ASC) AS rn FROM scored
         |   WHERE vec_id < $NumQueryVectors) WHERE rn <= $NProbe),
         | cands AS (SELECT DISTINCT p.query_id, a.vec_id
         |   FROM assign a JOIN probes p ON a.cent_id = p.cent_id
         |   WHERE a.vec_id <> p.query_id),
         | rescored AS (SELECT query_id, c.vec_id AS neighbor_id,
         |     list_dot_product(x.v, q.v) / (x.nrm * q.nrm) AS cosine_sim
         |   FROM cands c JOIN vs x ON x.vec_id = c.vec_id
         |   JOIN vs q ON q.vec_id = c.query_id)
         | SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cosine_sim
         | FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |   ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank FROM rescored)
         | WHERE rank <= $TopK""".stripMargin,

    // The IVF+BQ oracle composes the two proven CTE texts verbatim:
    // bqSqlWith's packing (vs + bq) and sim_ivf_topk's coarse chain
    // (cents/assign/probes/cands), then the probeHamming candidate
    // boundary (hamming asc, id asc) and exact-cosine rerank tail.
    "sim_ivf_bq_topk" ->
      s"""WITH $bqSqlWith,
         | cents AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM vs
         |   WHERE vec_id < $NumCentroids),
         | cscored AS (SELECT vs.vec_id, cent_id,
         |     list_dot_product(vs.v, cv) / (vs.nrm * cn) AS cs
         |   FROM vs CROSS JOIN cents),
         | assign AS (SELECT vec_id, cent_id FROM (
         |   SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |     ORDER BY cs DESC, cent_id ASC) AS rn FROM cscored) WHERE rn = 1),
         | probes AS (SELECT vec_id AS query_id, cent_id FROM (
         |   SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |     ORDER BY cs DESC, cent_id ASC) AS rn FROM cscored
         |   WHERE vec_id < $NumQueryVectors) WHERE rn <= $NProbe),
         | cands AS (SELECT DISTINCT p.query_id, a.vec_id
         |   FROM assign a JOIN probes p ON a.cent_id = p.cent_id
         |   WHERE a.vec_id <> p.query_id),
         | h AS (SELECT c.query_id, c.vec_id AS neighbor_id,
         |     bit_count(xor(bc.lo, bqq.lo)) + bit_count(xor(bc.hi, bqq.hi))
         |       AS hamming
         |   FROM cands c JOIN bq bc ON bc.vec_id = c.vec_id
         |   JOIN bq bqq ON bqq.vec_id = c.query_id),
         | keep AS (SELECT query_id, neighbor_id FROM (SELECT *,
         |     ROW_NUMBER() OVER (PARTITION BY query_id
         |       ORDER BY hamming ASC, neighbor_id ASC) AS cr FROM h)
         |   WHERE cr <= $BqRerankDepth),
         | rescored AS (SELECT keep.query_id, keep.neighbor_id,
         |     list_dot_product(x.v, q.v) / (x.nrm * q.nrm) AS cosine_sim
         |   FROM keep JOIN vs x ON x.vec_id = keep.neighbor_id
         |   JOIN vs q ON q.vec_id = keep.query_id)
         | SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
         |   cosine_sim
         | FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |   ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank FROM rescored)
         | WHERE rank <= $TopK""".stripMargin,
    "dedup_semantic" ->
      s"""WITH vs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |   sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
         |                         CAST(embedding AS DOUBLE[]))) AS nrm
         |   FROM embeddings WHERE list_dot_product(
         |     CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0),
         | cents AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM vs
         |   WHERE vec_id < $NumCentroids),
         | scored AS (SELECT vs.vec_id, cent_id,
         |     list_dot_product(vs.v, cv) / (vs.nrm * cn) AS cs
         |   FROM vs CROSS JOIN cents),
         | assign AS (SELECT vec_id, cent_id FROM (
         |   SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |     ORDER BY cs DESC, cent_id ASC) AS rn FROM scored) WHERE rn = 1),
         | members AS (SELECT a.vec_id, a.cent_id, vs.v, vs.nrm
         |   FROM assign a JOIN vs ON vs.vec_id = a.vec_id),
         | pairs AS (SELECT x.vec_id AS a, y.vec_id AS b,
         |     list_dot_product(x.v, y.v) / (x.nrm * y.nrm) AS cos
         |   FROM members x JOIN members y
         |     ON x.cent_id = y.cent_id AND y.vec_id < x.vec_id),
         | hits AS (SELECT * FROM pairs WHERE cos >= $CosDupThreshold),
         | best AS (SELECT a AS vec_id, b AS dup_of, cos AS dup_cos FROM (
         |   SELECT *, ROW_NUMBER() OVER (PARTITION BY a
         |     ORDER BY cos DESC, b ASC) AS rn FROM hits) WHERE rn = 1)
         | SELECT m.vec_id, m.cent_id, best.dup_of, best.dup_cos,
         |   best.dup_of IS NULL AS keep
         | FROM members m LEFT JOIN best ON best.vec_id = m.vec_id""".stripMargin,

    "sim_mmr_topk" -> mmrSql,

    "sim_reciprocal_nn" ->
      s"""WITH ${bandsSqlWith(DedupPlanes, DedupPlanes / DedupBands)},
         | okb AS (SELECT band, bv FROM bands GROUP BY band, bv
         |   HAVING COUNT(*) BETWEEN 2 AND $MaxVecBucket),
         | cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
         |   FROM bands x
         |   JOIN okb o ON x.band = o.band AND x.bv = o.bv
         |   JOIN bands y ON y.band = x.band AND y.bv = x.bv
         |   WHERE x.vec_id < y.vec_id),
         | pc AS (SELECT c.a, c.b,
         |     list_dot_product(x.v, y.v) / (x.nrm * y.nrm) AS cosine_sim
         |   FROM cand c
         |   JOIN vs x ON x.vec_id = c.a JOIN vs y ON y.vec_id = c.b),
         | nbrs AS (SELECT a AS vec_id, b AS other, cosine_sim FROM pc
         |   UNION ALL SELECT b, a, cosine_sim FROM pc),
         | best AS (SELECT vec_id, other AS nn, cosine_sim AS nn_cos FROM (
         |   SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |     ORDER BY cosine_sim DESC, other ASC) AS rn FROM nbrs)
         |   WHERE rn = 1)
         | SELECT f.vec_id AS a, f.nn AS b, f.nn_cos AS cosine_sim
         | FROM best f JOIN best r ON r.vec_id = f.nn AND r.nn = f.vec_id
         | WHERE f.vec_id < f.nn""".stripMargin,

    "sim_embedding_audit" ->
      s"""WITH vs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         | pv AS (SELECT vec_id, len(v) AS dim,
         |     sqrt(list_dot_product(v, v)) AS l2_norm,
         |     len(list_filter(v, x -> isnan(x) OR isinf(x))) AS n_nonfinite
         |   FROM vs),
         | med AS (SELECT quantile_cont(l2_norm, 0.5) AS nm FROM pv),
         | mad AS (SELECT quantile_cont(abs(l2_norm - med.nm), 0.5) AS nd
         |   FROM pv, med)
         | SELECT vec_id, dim, l2_norm, n_nonfinite,
         |   CASE WHEN mad.nd = 0 THEN 0.0
         |        ELSE (l2_norm - med.nm) / ($MadSigma * mad.nd) END AS robust_z,
         |   abs(CASE WHEN mad.nd = 0 THEN 0.0
         |        ELSE (l2_norm - med.nm) / ($MadSigma * mad.nd) END)
         |     > $AuditZThreshold AS norm_outlier
         | FROM pv, med, mad""".stripMargin,

    "sim_embedding_coverage" ->
      s"""SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |   CAST(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |     AS BIGINT) AS n_embedded,
         |   CAST(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |     AS DOUBLE) / COUNT(*) AS coverage
         | FROM documents d LEFT JOIN (SELECT vec_id FROM embeddings
         |   WHERE vec_id % ${Dedup.IncomingMod} <> 0) e ON e.vec_id = d.doc_id
         | GROUP BY d.source""".stripMargin,

    "sim_cosine_topk" ->
      s"""WITH vs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |   sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
         |                         CAST(embedding AS DOUBLE[]))) AS nrm
         |   FROM embeddings WHERE list_dot_product(
         |     CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0),
         | q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM vs
         |   WHERE vec_id < $NumQueryVectors),
         | scored AS (SELECT q.query_id, vs.vec_id AS neighbor_id,
         |   list_dot_product(vs.v, q.qv) / (vs.nrm * q.qn) AS cosine_sim
         |   FROM vs CROSS JOIN q WHERE vs.vec_id <> q.query_id)
         | SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cosine_sim
         | FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |   ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank FROM scored)
         | WHERE rank <= $TopK""".stripMargin,

    "sim_triplets" ->
      s"""WITH vs AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
         |   sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
         |                         CAST(embedding AS DOUBLE[]))) AS nrm
         |   FROM embeddings WHERE list_dot_product(
         |     CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0),
         | q AS (SELECT vec_id AS query_id, label AS q_label, v AS qv, nrm AS qn
         |   FROM vs WHERE vec_id < $NumQueryVectors),
         | scored AS (SELECT q.query_id, q.q_label, vs.vec_id AS nid, vs.label,
         |   list_dot_product(vs.v, q.qv) / (vs.nrm * q.qn) AS sim
         |   FROM vs CROSS JOIN q WHERE vs.vec_id <> q.query_id),
         | pos AS (SELECT query_id, nid, sim FROM (
         |   SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |     ORDER BY sim DESC, nid ASC) AS rn
         |   FROM scored WHERE label = q_label) WHERE rn = 1),
         | neg AS (SELECT query_id, nid, sim FROM (
         |   SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |     ORDER BY sim DESC, nid ASC) AS rn
         |   FROM scored WHERE label <> q_label) WHERE rn = 1)
         | SELECT p.query_id AS anchor_id,
         |   p.nid AS positive_id, p.sim AS positive_sim,
         |   n.nid AS negative_id, n.sim AS negative_sim,
         |   p.sim - n.sim AS margin
         | FROM pos p JOIN neg n ON n.query_id = p.query_id""".stripMargin,

    "sim_hard_negatives" ->
      s"""WITH vs AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
         |   sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
         |                         CAST(embedding AS DOUBLE[]))) AS nrm
         |   FROM embeddings WHERE list_dot_product(
         |     CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0),
         | q AS (SELECT vec_id AS query_id, label AS q_label, v AS qv, nrm AS qn
         |   FROM vs WHERE vec_id < $NumQueryVectors),
         | scored AS (SELECT q.query_id, vs.vec_id AS neighbor_id,
         |   list_dot_product(vs.v, q.qv) / (vs.nrm * q.qn) AS cosine_sim
         |   FROM vs CROSS JOIN q
         |   WHERE vs.vec_id <> q.query_id AND vs.label <> q.q_label)
         | SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cosine_sim
         | FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |   ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank FROM scored)
         | WHERE rank <= $TopK""".stripMargin,

    "sim_knn_classify" ->
      s"""WITH vs AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
         |   sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
         |                         CAST(embedding AS DOUBLE[]))) AS nrm
         |   FROM embeddings WHERE list_dot_product(
         |     CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0),
         | q AS (SELECT vec_id AS query_id, label AS true_label, v AS qv,
         |     nrm AS qn
         |   FROM vs WHERE vec_id < $NumQueryVectors),
         | scored AS (SELECT q.query_id, q.true_label,
         |   vs.vec_id AS neighbor_id, vs.label,
         |   list_dot_product(vs.v, q.qv) / (vs.nrm * q.qn) AS cosine_sim
         |   FROM vs CROSS JOIN q WHERE vs.vec_id <> q.query_id),
         | topk AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER
         |     (PARTITION BY query_id
         |      ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
         |   FROM scored) WHERE rank <= $TopK),
         | votes AS (SELECT query_id, true_label, label,
         |     COUNT(*) AS n_votes
         |   FROM topk GROUP BY 1, 2, 3),
         | winner AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER
         |     (PARTITION BY query_id
         |      ORDER BY n_votes DESC, label ASC) AS rn
         |   FROM votes) WHERE rn = 1)
         | SELECT query_id, CAST(label AS INTEGER) AS predicted_label,
         |   CAST(n_votes AS BIGINT) AS n_votes,
         |   CAST(true_label AS INTEGER) AS true_label,
         |   label = true_label AS correct
         | FROM winner""".stripMargin,

    "sim_mips_topk" ->
      s"""WITH vs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |   FROM embeddings
         |   WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
         |                          CAST(embedding AS DOUBLE[])) > 0),
         | q AS (SELECT vec_id AS query_id, v AS qv FROM vs
         |   WHERE vec_id < $NumQueryVectors),
         | scored AS (SELECT q.query_id, vs.vec_id AS neighbor_id,
         |   list_dot_product(vs.v, q.qv) AS inner_product
         |   FROM vs CROSS JOIN q WHERE vs.vec_id <> q.query_id)
         | SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
         |   inner_product
         | FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |   ORDER BY inner_product DESC, neighbor_id ASC) AS rank FROM scored)
         | WHERE rank <= $TopK""".stripMargin,

    "sim_kmeans_train" ->
      s"""WITH $kmeansCtesSql,
         | sF AS (${kmeansScoreSql(s"c$KmeansIters")}),
         | aF AS (SELECT vec_id, cent_id, d2 FROM (SELECT *, ROW_NUMBER() OVER
         |   (PARTITION BY vec_id ORDER BY d2 ASC, cent_id ASC) AS rn FROM sF)
         |   WHERE rn = 1),
         | g AS (SELECT cent_id, CAST(COUNT(*) AS BIGINT) AS n_vecs, SUM(d2) AS inertia
         |   FROM aF GROUP BY cent_id),
         | ck AS (SELECT cent_id,
         |   list_dot_product(cv, list_transform(cv, x -> 1.0)) AS centroid_sum
         |   FROM c$KmeansIters)
         | SELECT g.cent_id, g.n_vecs, g.inertia, ck.centroid_sum
         | FROM g JOIN ck USING (cent_id)""".stripMargin,

    "sim_cluster_purity" ->
      s"""WITH $kmeansCtesSql,
         | sF AS (${kmeansScoreSql(s"c$KmeansIters")}),
         | aF AS (SELECT vec_id, cent_id FROM (SELECT *, ROW_NUMBER() OVER
         |   (PARTITION BY vec_id ORDER BY d2 ASC, cent_id ASC) AS rn FROM sF)
         |   WHERE rn = 1),
         | cells AS (SELECT a.cent_id, e.label, CAST(COUNT(*) AS BIGINT) AS n
         |   FROM aF a JOIN embeddings e ON e.vec_id = a.vec_id
         |   GROUP BY 1, 2),
         | wcells AS (SELECT *, CAST(SUM(n) OVER (PARTITION BY cent_id) AS BIGINT)
         |     AS n_vecs,
         |   ROW_NUMBER() OVER (PARTITION BY cent_id
         |     ORDER BY n DESC, label ASC) AS rn
         |   FROM cells)
         | SELECT cent_id, n_vecs, label AS top_label, n AS top_n,
         |   CAST(n AS DOUBLE) / n_vecs AS purity
         | FROM wcells WHERE rn = 1""".stripMargin,

    "sim_silhouette" ->
      s"""WITH $kmeansCtesSql,
         | sF AS (${kmeansScoreSql(s"c$KmeansIters")}),
         | r AS (SELECT vec_id, cent_id, d2, ROW_NUMBER() OVER
         |   (PARTITION BY vec_id ORDER BY d2 ASC, cent_id ASC) AS rn FROM sF),
         | ab AS (SELECT b1.vec_id, b1.cent_id,
         |     sqrt(greatest(b1.d2, 0)) AS a, sqrt(greatest(b2.d2, 0)) AS b
         |   FROM (SELECT * FROM r WHERE rn = 1) b1
         |   JOIN (SELECT * FROM r WHERE rn = 2) b2 USING (vec_id)),
         | s AS (SELECT cent_id, CASE WHEN greatest(a, b) = 0 THEN 0.0
         |     ELSE (b - a) / greatest(a, b) END AS sil FROM ab)
         | SELECT cent_id, CAST(COUNT(*) AS BIGINT) AS n_vecs,
         |   round(AVG(sil), 6) AS silhouette
         | FROM s GROUP BY cent_id""".stripMargin,

    "sim_ivf_recall" ->
      s"""WITH $kmeansCtesSql,
         | sA AS (${kmeansScoreSql(s"c$KmeansIters")}),
         | asg AS (SELECT vec_id, cent_id FROM (SELECT *, ROW_NUMBER() OVER
         |   (PARTITION BY vec_id ORDER BY d2 ASC, cent_id ASC) AS rn FROM sA)
         |   WHERE rn = 1),
         | q AS (SELECT vec_id AS query_id, v AS qv FROM vs
         |   WHERE vec_id < $NumQueryVectors),
         | pr AS (SELECT query_id, cent_id FROM (SELECT q.query_id, c.cent_id,
         |   ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
         |     list_dot_product(q.qv, q.qv) - 2 * list_dot_product(q.qv, c.cv)
         |       + list_dot_product(c.cv, c.cv) ASC, c.cent_id ASC) AS rn
         |   FROM q CROSS JOIN c$KmeansIters c) WHERE rn <= $NProbe),
         | re AS (SELECT pr.query_id, asg.vec_id AS neighbor_id,
         |   list_dot_product(vs.v, vs.v) - 2 * list_dot_product(vs.v, q.qv)
         |     + list_dot_product(q.qv, q.qv) AS d2
         |   FROM asg JOIN pr USING (cent_id)
         |   JOIN vs ON vs.vec_id = asg.vec_id
         |   JOIN q ON q.query_id = pr.query_id
         |   WHERE asg.vec_id <> pr.query_id),
         | ivf_tk AS (SELECT query_id, neighbor_id FROM (SELECT *,
         |   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2 ASC,
         |     neighbor_id ASC) AS rank FROM re) WHERE rank <= $TopK),
         | $exactL2TkSqlWith,
         | ${recallTailSql("ivf_tk")}""".stripMargin,

    "sim_dim_variance" ->
      """WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        | x AS (SELECT CAST(generate_subscripts(v, 1) - 1 AS BIGINT) AS dim,
        |     unnest(v) AS x FROM e),
        | g AS (SELECT dim, CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx,
        |     SUM(x * x) AS sxx, MIN(x) AS mn, MAX(x) AS mx
        |   FROM x GROUP BY dim)
        | SELECT dim, n, round(sx / n, 6) AS mean,
        |   round((sxx - sx * sx / n) / n, 6) AS variance,
        |   round(mn, 6) AS min_x, round(mx, 6) AS max_x
        | FROM g""".stripMargin,

    "sim_lsh_bands_curve" ->
      s"""WITH ${bandsSqlWith(SignatureBits, SignatureBits / BandsPerSignature)},
         | pc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |     MIN(c.band) AS min_band
         |   FROM bands c JOIN bands q ON c.band = q.band AND c.bv = q.bv
         |   WHERE q.vec_id < $NumQueryVectors AND c.vec_id <> q.vec_id
         |   GROUP BY 1, 2),
         | sc AS (SELECT pc.query_id, pc.neighbor_id, pc.min_band,
         |     list_dot_product(vc.v, vq.v) / (vc.nrm * vq.nrm) AS cosine_sim
         |   FROM pc JOIN vs vc ON vc.vec_id = pc.neighbor_id
         |   JOIN vs vq ON vq.vec_id = pc.query_id),
         | exs AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |     list_dot_product(c.v, q.v) / (c.nrm * q.nrm) AS cosine_sim
         |   FROM vs c CROSS JOIN
         |     (SELECT * FROM vs WHERE vec_id < $NumQueryVectors) q
         |   WHERE c.vec_id <> q.vec_id),
         | ex_tk AS (SELECT query_id, neighbor_id FROM (SELECT *,
         |   ROW_NUMBER() OVER (PARTITION BY query_id
         |     ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank FROM exs)
         |   WHERE rank <= $TopK),
         | ${LshBandsSweep.map(b =>
             s"""tkb$b AS (SELECT query_id, neighbor_id FROM (SELECT *,
                |   ROW_NUMBER() OVER (PARTITION BY query_id
                |     ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
                |   FROM sc WHERE min_band < $b) WHERE rank <= $TopK)""".stripMargin)
           .mkString(",\n ")}
         | ${LshBandsSweep.map(b =>
             s"""SELECT CAST($b AS INTEGER) AS n_bands,
                |   round(CAST((SELECT COUNT(*) FROM ex_tk e JOIN tkb$b a
                |     USING (query_id, neighbor_id)) AS DOUBLE)
                |     / ${NumQueryVectors * TopK}, 6) AS mean_recall""".stripMargin)
           .mkString("\n UNION ALL ")}""".stripMargin,

    "sim_ivf_nprobe_curve" ->
      s"""WITH $kmeansCtesSql,
         | sA AS (${kmeansScoreSql(s"c$KmeansIters")}),
         | asg AS (SELECT vec_id, cent_id FROM (SELECT *, ROW_NUMBER() OVER
         |   (PARTITION BY vec_id ORDER BY d2 ASC, cent_id ASC) AS rn FROM sA)
         |   WHERE rn = 1),
         | q AS (SELECT vec_id AS query_id, v AS qv FROM vs
         |   WHERE vec_id < $NumQueryVectors),
         | pr AS (SELECT q.query_id, c.cent_id,
         |   ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
         |     list_dot_product(q.qv, q.qv) - 2 * list_dot_product(q.qv, c.cv)
         |       + list_dot_product(c.cv, c.cv) ASC, c.cent_id ASC) AS prank
         |   FROM q CROSS JOIN c$KmeansIters c),
         | re AS (SELECT pr.query_id, asg.vec_id AS neighbor_id, pr.prank,
         |   list_dot_product(vs.v, vs.v) - 2 * list_dot_product(vs.v, q.qv)
         |     + list_dot_product(q.qv, q.qv) AS d2
         |   FROM asg JOIN pr USING (cent_id)
         |   JOIN vs ON vs.vec_id = asg.vec_id
         |   JOIN q ON q.query_id = pr.query_id
         |   WHERE asg.vec_id <> pr.query_id),
         | $exactL2TkSqlWith,
         | ${NprobeSweep.map(p =>
             s"""tk$p AS (SELECT query_id, neighbor_id FROM (SELECT *,
                |   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2 ASC,
                |     neighbor_id ASC) AS rank FROM re WHERE prank <= $p)
                |   WHERE rank <= $TopK)""".stripMargin).mkString(",\n ")}
         | ${NprobeSweep.map(p =>
             s"""SELECT CAST($p AS INTEGER) AS nprobe,
                |   round(CAST((SELECT COUNT(*) FROM ex_tk e JOIN tk$p a
                |     USING (query_id, neighbor_id)) AS DOUBLE)
                |     / ${NumQueryVectors * TopK}, 6) AS mean_recall""".stripMargin)
           .mkString("\n UNION ALL ")}""".stripMargin,

    "sim_ivf_trained_topk" ->
      s"""WITH $kmeansCtesSql,
         | sA AS (${kmeansScoreSql(s"c$KmeansIters")}),
         | asg AS (SELECT vec_id, cent_id FROM (SELECT *, ROW_NUMBER() OVER
         |   (PARTITION BY vec_id ORDER BY d2 ASC, cent_id ASC) AS rn FROM sA)
         |   WHERE rn = 1),
         | q AS (SELECT vec_id AS query_id, v AS qv FROM vs
         |   WHERE vec_id < $NumQueryVectors),
         | pr AS (SELECT query_id, cent_id FROM (SELECT q.query_id, c.cent_id,
         |   ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
         |     list_dot_product(q.qv, q.qv) - 2 * list_dot_product(q.qv, c.cv)
         |       + list_dot_product(c.cv, c.cv) ASC, c.cent_id ASC) AS rn
         |   FROM q CROSS JOIN c$KmeansIters c) WHERE rn <= $NProbe),
         | re AS (SELECT pr.query_id, asg.vec_id AS neighbor_id,
         |   list_dot_product(vs.v, vs.v) - 2 * list_dot_product(vs.v, q.qv)
         |     + list_dot_product(q.qv, q.qv) AS d2
         |   FROM asg JOIN pr USING (cent_id)
         |   JOIN vs ON vs.vec_id = asg.vec_id
         |   JOIN q ON q.query_id = pr.query_id
         |   WHERE asg.vec_id <> pr.query_id)
         | SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, d2
         | FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |   ORDER BY d2 ASC, neighbor_id ASC) AS rank FROM re)
         | WHERE rank <= $TopK""".stripMargin,
  )
}
