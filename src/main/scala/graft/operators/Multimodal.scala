package graft.operators

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Staging
import graft.sources.Tables

/** One multimodal record: opaque media bytes + typed metadata. In a real
  * corpus `payload` holds image/audio/video bytes; the fixture derives it
  * deterministically from `documents.text` (UTF-8 bytes) so every operator
  * stays DuckDB-oracle-checkable. */
case class MultimodalRecord(doc_id: Long, modality: String, payload: Array[Byte])

/** Decoder output: per-record media features. */
case class DecodedFeatures(doc_id: Long, modality: String, payload_bytes: Long,
                           width: Int, height: Int, n_frames: Int)

/** Resize-stage output: original + target dims (aspect-preserving fit). */
case class ResizedFeatures(doc_id: Long, modality: String,
                           width: Int, height: Int,
                           out_width: Int, out_height: Int)

/** Multimodal-column operators: treat media as opaque `binary` columns with
  * typed metadata, per the large-scale training-pipeline brief.
  *
  * The decode step is a STUB — this container has no image/audio codecs —
  * but the Spark-side plumbing is real and tested: a typed
  * `Dataset[MultimodalRecord] → Dataset[DecodedFeatures]` stage over
  * `mapPartitions`, with the decoder instantiated once per partition (the
  * slot where a JNI/FFmpeg/codec handle lives in production; the Scala
  * analog of `mapInPandas` batch processing). [[FakeDecoder]] derives
  * features arithmetically from the payload bytes, so the whole pipeline is
  * deterministic and the oracle reproduces it from the source text.
  *
  * 100 TB shape: both operators are partition-local map-only scans over the
  * binary column — no shuffle; decode parallelism scales with input
  * partitions, and the binary bytes never leave the executor that read
  * them. */
object Multimodal {

  val Modalities: Seq[String] = Seq("image", "audio", "video")

  /** Deterministic stand-in decoder. Per-record features derive from the
    * md5 of the payload bytes — i.e. content-determined, like real
    * dimensions, but computable by the oracle. A production decoder
    * replaces `decode` only; the pipeline shape stays. */
  final class FakeDecoder {
    private val md = MessageDigest.getInstance("MD5") // per-partition handle
    def decode(r: MultimodalRecord): DecodedFeatures = {
      md.reset()
      val hex = md.digest(r.payload).take(4).map(b => f"${b & 0xff}%02x").mkString
      val h = java.lang.Long.parseLong(hex, 16)
      DecodedFeatures(r.doc_id, r.modality, r.payload.length.toLong,
        (h % 1920 + 1).toInt, (h % 1080 + 1).toInt,
        r.payload.length / 100 + 1)
    }
  }

  /** The multimodal view of `documents`: deterministic modality tag +
    * UTF-8 payload bytes. */
  def records(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      element_at(array(Modalities.map(lit): _*),
        pmod(col("doc_id"), lit(3)).cast("int") + 1).as("modality"),
      encode(col("text"), "UTF-8").as("payload"))

  /** Pure column-expression stats over the binary payload: byte length,
    * content digest, magic-byte prefix. */
  def binaryStats(documents: DataFrame): DataFrame =
    records(documents).select(
      col("doc_id"), col("modality"),
      length(col("payload")).cast("long").as("payload_bytes"),
      sha2(col("payload"), 256).as("payload_sha"),
      substring(hex(col("payload")), 1, 8).as("magic_hex"))

  /** The typed decode stage: batch-shaped partition iteration, one decoder
    * instance per partition. */
  def decodeFeatures(ds: Dataset[MultimodalRecord]): Dataset[DecodedFeatures] =
    ds.mapPartitions { it =>
      val decoder = new FakeDecoder
      it.map(decoder.decode)
    }(Encoders.product[DecodedFeatures])

  def recordsDs(documents: DataFrame): Dataset[MultimodalRecord] =
    records(documents).as[MultimodalRecord](Encoders.product[MultimodalRecord])

  /** Resize target box (the ubiquitous vision-model input side). */
  val ResizeBox = 224

  /** Aspect-preserving resize planning over decoded dims: fit (width,
    * height) inside [[ResizeBox]]² without upscaling — `scale = min(1,
    * box/max_side)`, floor semantics, min 1 px. The arithmetic IS the
    * production resize contract; only the pixel transform itself is the
    * stubbed decoder's job. Pure column math — stays in codegen, no
    * shuffle. */
  def resizePlan(decoded: DataFrame): DataFrame = {
    val w = col("width").cast("long")
    val h = col("height").cast("long")
    val boxL = lit(ResizeBox.toLong)
    val side = greatest(w, h)
    val needs = side > boxL
    decoded.select(
      col("doc_id"), col("modality"), col("width"), col("height"),
      when(needs, greatest(lit(1L), (w * boxL) / side)).otherwise(w)
        .cast("int").as("out_width"),
      when(needs, greatest(lit(1L), (h * boxL) / side)).otherwise(h)
        .cast("int").as("out_height"))
  }

  /** Frames to sample per video (vision-LM ingestion default). */
  val MaxSampledFrames = 8

  /** Uniform frame sampling: for `video` records emit one row per sampled
    * frame — frame_idx = floor(i·n_frames/k) for i in [0,k), k =
    * min(n_frames, [[MaxSampledFrames]]); non-video records pass through
    * with frame_idx 0 (the whole payload is the single "frame"). The
    * explode is the row-generator shape a real frame extractor feeds;
    * partition-local, no shuffle. */
  def frameSample(decoded: DataFrame): DataFrame = {
    val n = col("n_frames").cast("long")
    val k = least(n, lit(MaxSampledFrames.toLong))
    decoded
      .withColumn("_idx",
        when(col("modality") === "video",
          // try_divide-free integer division: Column./ is double division
          transform(sequence(lit(0L), k - 1), i => floor((i * n) / k).cast("long")))
          .otherwise(array(lit(0L))))
      .select(col("doc_id"), col("modality"), col("n_frames"),
        explode(col("_idx")).as("frame_idx"))
  }

  /** Block size for [[blockDedup]], in hex chars (16 bytes per block). */
  val BlockHexChars = 32

  /** Per-record distinct block-hash set: the payload's hex splits into
    * fixed [[BlockHexChars]]-char blocks, each hashed with the portable
    * [[Dedup.h32]] family. */
  def blockHashes(payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    // r18: one native codegen'd pass over the payload bytes
    // ([[graft.functions.BlockHashes]]) — per block, its hex chars encode
    // into a reusable buffer and md5 directly; the 2×-payload hex string,
    // the interpreted per-block substr+h32 transform and the
    // array_distinct/sort_array HOFs are gone. Same sorted-distinct value
    // set (identical md5 inputs), so every oracle is unchanged.
    graft.functions.BlockHashes.of(payload, BlockHexChars, Dedup.P)

  /** [[blockHashes]] over an already-PROJECTED hex column — the form hot
    * paths must use: the block transform's lambda body substrings `hx`
    * per block, and a lambda body referencing a COMPUTED column
    * re-evaluates it per element (HOFs are interpreted — the
    * [[graft.operators.TextAnalysis.collocations]] r17 lambda note), so
    * the inline form re-hexed the whole payload once per block. */
  def blockHashesOfHex(hx: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    // sorted: Dedup.bestMatchBySets intersects these by linear merge
    // (SortedIntersectCount) — order carries no information here.
    // Empty payloads carry NO blocks: unguarded, Spark's
    // sequence(0, ceil(0/32)-1) = sequence(0, -1) infers step -1 and
    // fabricates a phantom h32("") block, while the oracle's range(0)
    // is empty — the two engines would diverge on zero-length records.
    when(length(hx) > 0,
      sort_array(array_distinct(transform(
        sequence(lit(0), ceil(length(hx).cast("double") / BlockHexChars).cast("int") - 1),
        i => Dedup.h32(hx.substr(i * BlockHexChars + 1, lit(BlockHexChars))) % Dedup.P))))
      .otherwise(array().cast("array<long>"))
  }

  /** Binary near-dup best match — the multimodal member of the dedup
    * family (ssdeep-style block matching): records sharing ≥2..df-capped
    * content blocks become candidates, verified by exact block-set
    * Jaccard, keeping each record's best match. Catches
    * shifted-by-whole-blocks and partially-overwritten payloads that
    * sha256 equality misses, without decoding anything. Shares
    * [[Dedup.bestMatchBySets]] (df-capped inverted index — the same
    * bounded-fan-out scale shape as text n-gram dedup). */
  def blockDedup(documents: DataFrame): DataFrame =
    Dedup.bestMatchBySets(
      records(Tables.spread(documents))
        .select(col("doc_id"), blockHashes(col("payload")).as("sh")))

  /** A FROZEN block index — the distinct content-block hash set of the
    * resident binary store: the "100 TB side" of incremental binary
    * dedup, built once (at scale a persisted table bucketed on bh) and
    * probed by any number of batch or streaming ingests. */
  def buildBlockIndex(corpus: DataFrame): DataFrame =
    Staging.stage(records(Tables.spread(corpus))
      .select(explode(blockHashes(col("payload"))).as("bh")).distinct())

  /** Persist a frozen block index as a BUCKETED table — the
    * [[Dedup.saveIndex]] convention at the binary-block grain (VERDICT
    * r11 #4): bucketed and sorted on the 8-byte block hash, so every
    * batch or streaming probe joins the store's blocks on the table's own
    * partitioning — the store is shuffled ONCE at write time, never per
    * probe. */
  def saveBlockIndex(index: DataFrame, table: String): Unit =
    index.write.mode("overwrite").format("parquet")
      .option("path", graft.engine.Artifacts
        .freshTableLocation(index.sparkSession, table))
      .bucketBy(Dedup.IndexBuckets, "bh").sortBy("bh").saveAsTable(table)

  /** Reopen a persisted block index carrying its bucket partitioning. */
  def loadBlockIndex(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Probe incoming payloads against a FROZEN [[buildBlockIndex]] table:
    * per incoming record, how much of its content is ALREADY RESIDENT at
    * the block grain — the binary-grain twin of the text novelty gate
    * (a re-upload scores 1.0, a partially-overwritten or re-containered
    * payload scores high, fresh content scores 0) without decoding
    * anything. One row per incoming record: (doc_id, n_blocks, n_seen,
    * resident_frac).
    *
    * 100 TB shape: O(batch) block cells joined on the 8-byte hash
    * against the persisted index, one map-side-combined per-record
    * rollup — the store never rescans
    * ([[graft.streaming.StreamingScorer]] runs the same probe per micro-batch). */
  def probeBlocks(index: DataFrame, incoming: DataFrame): DataFrame =
    records(Tables.spread(incoming))
      .select(col("doc_id"), explode(blockHashes(col("payload"))).as("bh"))
      .join(index.select(col("bh"), lit(true).as("seen")), Seq("bh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("seen"), 1L).otherwise(0L)).as("n_seen"))
      .select(col("doc_id"), col("n_blocks"), col("n_seen"),
        round(col("n_seen").cast("double") / col("n_blocks"), 6)
          .as("resident_frac"))

  /** The registered incremental face — the [[Dedup.IncomingMod]] split
    * convention: index the resident 80 %, probe the incoming 20 %. */
  def blockProbeSplit(documents: DataFrame): DataFrame = {
    val isIncoming = col("doc_id") % Dedup.IncomingMod === 0
    probeBlocks(buildBlockIndex(documents.where(!isIncoming)),
      documents.where(isIncoming))
  }

  /** Z-score threshold for [[sizeOutliers]]. */
  val SizeZMax = 3.0

  /** Payload-size outlier gate — the cheap corruption/truncation check a
    * multimodal ingest runs before decoding anything: each record's byte
    * size z-scored against ITS OWN modality's size distribution (a 2 KB
    * "video" is suspect; a 2 KB thumbnail is not). Moments come from
    * exact integer sums, per-modality stats broadcast — the same shape as
    * the events anomaly monitor, applied to binary metadata. One row per
    * record: (doc_id, modality, n_bytes, z, outlier).
    *
    * 100 TB shape: one map-side-combined aggregation to ≤ #modalities
    * rows, broadcast back over a map-only scan — payload bytes never
    * shuffle, only their lengths. */
  def sizeOutliers(documents: DataFrame): DataFrame = {
    val sized = records(documents)
      .select(col("doc_id"), col("modality"),
        length(col("payload")).cast("long").as("n_bytes"))
    val stats = sized.groupBy("modality").agg(
      count(lit(1)).as("n"),
      sum("n_bytes").as("s1"),
      sum(col("n_bytes") * col("n_bytes")).as("s2"))
    val mean = col("s1").cast("double") / col("n")
    val variance = col("s2").cast("double") / col("n") - mean * mean
    val z = when(variance > 0,
      (col("n_bytes").cast("double") - mean) / sqrt(variance))
      .otherwise(lit(0.0))
    sized.join(broadcast(stats), "modality")
      .select(col("doc_id"), col("modality"), col("n_bytes"),
        z.as("z"), (abs(z) > SizeZMax).as("outlier"))
  }

  /** Inflation factor and sparse-id modulus for [[outlierProbe]]. */
  val OutlierProbeFactor = 30
  val OutlierProbeMod = 97

  /** Outlier-gate recovery probe: no synthetic payload is a size outlier
    * (0/500 at the oracle), so the `outlier = true` branch never fires
    * there. Every doc_id ≡ 0 (mod [[OutlierProbeMod]]) has its payload
    * inflated [[OutlierProbeFactor]]× ON BOTH ENGINES before the gate —
    * those records must flag, the rest must not. */
  def outlierProbe(documents: DataFrame): DataFrame =
    sizeOutliers(documents.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(OutlierProbeMod)) === 0,
        repeat(col("text"), OutlierProbeFactor)).otherwise(col("text")).as("text")))

  /** The composed multimodal ingest, end to end: the size-outlier gate
    * drops suspect payloads BEFORE the (expensive) decode stage ever
    * touches them, survivors decode per-partition, and the resize plan
    * runs over the decoded dims — one registered query proving the
    * stages compose (the corpus-family analog is `corpus_e2e`).
    *
    * 100 TB shape: the gate is the cheap stats-broadcast scan
    * ([[sizeOutliers]]), so the decode — the dominant cost in a real
    * multimodal build — runs on gated survivors only; everything else is
    * partition-local. */
  def endToEnd(documents: DataFrame): DataFrame = {
    val kept = sizeOutliers(documents).where(!col("outlier")).select("doc_id")
    resizePlan(decodeFeatures(recordsDs(documents.join(kept, "doc_id"))).toDF())
  }

  /** Query-id bound for [[crossmodalTopK]]: vec_ids under this with the
    * query modality (~a third) form the query set. */
  val CrossmodalQueryBound = 30

  /** Cross-modal retrieval — the multimodal columns include RETRIEVAL,
    * not just byte-level stats/dedup: embeddings carry the same
    * deterministic modality tag as [[records]] (vec_id mod 3 →
    * image/audio/video), "video" vectors under [[CrossmodalQueryBound]]
    * query an "image"-only corpus through the VERIFIED sign-LSH ANN core
    * ([[Similarity.annProbe]] — banded signatures, broadcast query side,
    * exact-cosine rescore on candidates, bounded top-k). In production the
    * two sides are a shared-space encoder's outputs (CLIP-style); the
    * serving plan — the part this engine owns — is identical.
    *
    * 100 TB shape: inherited from [[Similarity.annProbe]] verbatim: the
    * corpus never shuffles (banded candidates only), the query side
    * broadcasts, the finisher is the bounded per-group top-k aggregator. */
  def crossmodalTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val vs = Similarity.annCorpus(spark, sfDir)
    val modality = element_at(array(Modalities.map(lit): _*),
      pmod(col("vec_id"), lit(3)).cast("int") + 1)
    val corpus = vs.where(modality === "image")
    val queries = vs
      .where(modality === "video" && col("vec_id") < CrossmodalQueryBound)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    Similarity.annProbe(corpus, queries)
  }

  /** Cross-modal recall referee — [[crossmodalTopK]]'s quality evidence:
    * recall@[[Similarity.TopK]] of the banded-LSH cross-modal retrieval
    * against the exact cosine ranking over the SAME modality-filtered
    * sides. Completes the referee convention (every approximate path in
    * the engine ships its own recall query); runs at query-sample scale
    * like all referees. Output: (query_id, recall_at_k). */
  def crossmodalRecall(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Similarity
    // r18: one vector load feeds both retrieval legs (the former shape
    // re-called crossmodalTopK, loading/norming the embeddings once per
    // leg), and the exact id-pair ranking is staged because the recall
    // join AND the query-list left join both read it — unstaged, each
    // reference re-ran the whole exact probe.
    // session 2 note: this query's sf0.1 wall regressed ~0.3 s against
    // the round-start shape — measured to be the staged referee's one
    // extra EAGER job (fixed stage latency), not extra compute; the
    // staging halves the exact-probe corpus scans, which is the 100 TB
    // term, so it stays (unstaging was tried and rejected: local-only).
    val vs = Similarity.annCorpus(spark, sfDir)
      .withColumn("modality", element_at(array(Modalities.map(lit): _*),
        pmod(col("vec_id"), lit(3)).cast("int") + 1))
    val corpus = vs.where(col("modality") === "image").drop("modality")
    val queries = vs
      .where(col("modality") === "video" &&
        col("vec_id") < CrossmodalQueryBound)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val exact = Staging.stage(Similarity.exactCosineProbe(corpus, queries)
      .select("query_id", "neighbor_id"))
    val ann = Similarity.annProbe(corpus, queries)
      .select("query_id", "neighbor_id")
    val hits = exact.join(ann, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    exact.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / Similarity.TopK)
          .as("recall_at_k"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_crossmodal_recall" -> ((s, d) => crossmodalRecall(s, d)),
    "mm_crossmodal_topk" ->
      ((s, d) => crossmodalTopK(s, d)),
    "mm_e2e" ->
      ((s, d) => endToEnd(Tables.documents(s, d))),
    "mm_size_outliers" ->
      ((s, d) => sizeOutliers(Tables.documents(s, d))),
    "mm_outlier_probe" ->
      ((s, d) => outlierProbe(Tables.documents(s, d))),
    "mm_block_dedup" ->
      ((s, d) => blockDedup(Tables.documents(s, d))),
    "mm_block_probe" ->
      ((s, d) => blockProbeSplit(Tables.documents(s, d))),
    "mm_binary_stats" ->
      ((s, d) => binaryStats(Tables.documents(s, d))),
    "mm_decode_features" ->
      ((s, d) => decodeFeatures(recordsDs(Tables.documents(s, d))).toDF()),
    "mm_resize_plan" ->
      ((s, d) => resizePlan(decodeFeatures(recordsDs(Tables.documents(s, d))).toDF())),
    "mm_frame_sample" ->
      ((s, d) => frameSample(decodeFeatures(recordsDs(Tables.documents(s, d))).toDF())),
  )

  private val modalityCase =
    "CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END"

  /** The per-record distinct block-hash CTE chain (SQL mirror of
    * [[blockHashes]] over [[records]]'s payloads) — shared by the
    * `mm_block_dedup` oracle and `mm_block_probe`'s, so the block
    * definition cannot drift between the two faces. */
  private val blockSetsSqlWith: String =
    s"""hx AS (SELECT doc_id, hex(encode(text)) AS x FROM documents),
       | bl AS (SELECT doc_id, list_distinct(list_transform(
       |     range(CAST(ceil(CAST(len(x) AS DOUBLE) / $BlockHexChars) AS INTEGER)),
       |     i -> ('0x' || substring(md5(substring(x,
       |       CAST(i * $BlockHexChars + 1 AS INTEGER), $BlockHexChars)), 1, 8))::BIGINT
       |       % ${Dedup.P})) AS sh FROM hx)""".stripMargin

  /** [[sizeOutliers]]'s SQL twin (CTE chain + final select, no leading
    * WITH) over a (doc_id, text) relation `src` — shared by the gate
    * oracle and its inflation probe so the z math cannot drift. */
  private def sizeOutliersSql(src: String): String =
    s"""sized AS (SELECT doc_id, $modalityCase AS modality,
       |     CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
       |   FROM $src),
       | stats AS (SELECT modality, COUNT(*) AS n,
       |     CAST(SUM(n_bytes) AS BIGINT) AS s1,
       |     CAST(SUM(n_bytes * n_bytes) AS BIGINT) AS s2
       |   FROM sized GROUP BY 1),
       | j AS (SELECT d.doc_id, d.modality, d.n_bytes,
       |     CAST(s.s1 AS DOUBLE) / s.n AS mean,
       |     CAST(s.s2 AS DOUBLE) / s.n
       |       - (CAST(s.s1 AS DOUBLE) / s.n) * (CAST(s.s1 AS DOUBLE) / s.n)
       |       AS variance
       |   FROM sized d JOIN stats s USING (modality))
       | SELECT doc_id, modality, n_bytes,
       |   CASE WHEN variance > 0
       |        THEN (CAST(n_bytes AS DOUBLE) - mean) / sqrt(variance)
       |        ELSE CAST(0 AS DOUBLE) END AS z,
       |   CASE WHEN variance > 0
       |        THEN abs((CAST(n_bytes AS DOUBLE) - mean) / sqrt(variance))
       |             > $SizeZMax
       |        ELSE FALSE END AS outlier
       | FROM j""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "mm_crossmodal_recall" ->
      s"""WITH ${Similarity.bandsSqlWith(Similarity.SignatureBits,
             Similarity.SignatureBits / Similarity.BandsPerSignature)},
         | cands AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
         |   FROM bands c JOIN bands q ON c.band = q.band AND c.bv = q.bv
         |   WHERE q.vec_id % 3 = 2 AND q.vec_id < $CrossmodalQueryBound
         |     AND c.vec_id % 3 = 0 AND c.vec_id <> q.vec_id),
         | scored AS (SELECT query_id, neighbor_id,
         |     list_dot_product(vc.v, vq.v) / (vc.nrm * vq.nrm) AS cosine_sim
         |   FROM cands JOIN vs vc ON vc.vec_id = cands.neighbor_id
         |   JOIN vs vq ON vq.vec_id = cands.query_id),
         | ann_tk AS (SELECT query_id, neighbor_id FROM (SELECT *,
         |   ROW_NUMBER() OVER (PARTITION BY query_id
         |     ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank FROM scored)
         |   WHERE rank <= ${Similarity.TopK}),
         | q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM vs
         |   WHERE vec_id % 3 = 2 AND vec_id < $CrossmodalQueryBound),
         | exs AS (SELECT q.query_id, c.vec_id AS neighbor_id,
         |     list_dot_product(c.v, q.qv) / (c.nrm * q.qn) AS cosine_sim
         |   FROM vs c CROSS JOIN q
         |   WHERE c.vec_id % 3 = 0 AND c.vec_id <> q.query_id),
         | ex_tk AS (SELECT query_id, neighbor_id FROM (SELECT *,
         |   ROW_NUMBER() OVER (PARTITION BY query_id
         |     ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank FROM exs)
         |   WHERE rank <= ${Similarity.TopK}),
         | hits AS (SELECT e.query_id, COUNT(*) AS n FROM ex_tk e
         |   JOIN ann_tk a USING (query_id, neighbor_id) GROUP BY e.query_id)
         | SELECT q.query_id,
         |   CAST(COALESCE(hits.n, 0) AS DOUBLE) / ${Similarity.TopK}
         |     AS recall_at_k
         | FROM q LEFT JOIN hits ON hits.query_id = q.query_id""".stripMargin,

    "mm_crossmodal_topk" ->
      s"""WITH ${Similarity.bandsSqlWith(Similarity.SignatureBits,
             Similarity.SignatureBits / Similarity.BandsPerSignature)},
         | cands AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
         |   FROM bands c JOIN bands q ON c.band = q.band AND c.bv = q.bv
         |   WHERE q.vec_id % 3 = 2 AND q.vec_id < $CrossmodalQueryBound
         |     AND c.vec_id % 3 = 0 AND c.vec_id <> q.vec_id),
         | scored AS (SELECT query_id, neighbor_id,
         |     list_dot_product(vc.v, vq.v) / (vc.nrm * vq.nrm) AS cosine_sim
         |   FROM cands JOIN vs vc ON vc.vec_id = cands.neighbor_id
         |   JOIN vs vq ON vq.vec_id = cands.query_id)
         | SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cosine_sim
         | FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |   ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank FROM scored)
         | WHERE rank <= ${Similarity.TopK}""".stripMargin,

    "mm_e2e" ->
      s"""WITH sized AS (SELECT doc_id, $modalityCase AS modality,
         |     CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
         |   FROM documents),
         | stats AS (SELECT modality, COUNT(*) AS n,
         |     CAST(SUM(n_bytes) AS BIGINT) AS s1,
         |     CAST(SUM(n_bytes * n_bytes) AS BIGINT) AS s2
         |   FROM sized GROUP BY 1),
         | jz AS (SELECT d.doc_id, d.n_bytes,
         |     CAST(s.s1 AS DOUBLE) / s.n AS mean,
         |     CAST(s.s2 AS DOUBLE) / s.n
         |       - (CAST(s.s1 AS DOUBLE) / s.n) * (CAST(s.s1 AS DOUBLE) / s.n)
         |       AS variance
         |   FROM sized d JOIN stats s USING (modality)),
         | kept AS (SELECT doc_id FROM jz
         |   WHERE NOT (CASE WHEN variance > 0
         |     THEN abs((CAST(n_bytes AS DOUBLE) - mean) / sqrt(variance))
         |          > $SizeZMax
         |     ELSE FALSE END)),
         | h AS (SELECT d.doc_id,
         |     ('0x' || substring(md5(d.text), 1, 8))::BIGINT AS h
         |   FROM documents d JOIN kept USING (doc_id)),
         | dd AS (SELECT doc_id, $modalityCase AS modality,
         |   CAST(h % 1920 + 1 AS INTEGER) AS width,
         |   CAST(h % 1080 + 1 AS INTEGER) AS height FROM h)
         | SELECT doc_id, modality, width, height,
         |  CAST(CASE WHEN GREATEST(width, height) > $ResizeBox
         |    THEN GREATEST(1, (width * $ResizeBox) // GREATEST(width, height))
         |    ELSE width END AS INTEGER) AS out_width,
         |  CAST(CASE WHEN GREATEST(width, height) > $ResizeBox
         |    THEN GREATEST(1, (height * $ResizeBox) // GREATEST(width, height))
         |    ELSE height END AS INTEGER) AS out_height
         | FROM dd""".stripMargin,

    "mm_size_outliers" -> s"WITH ${sizeOutliersSql("documents")}",

    "mm_outlier_probe" ->
      s"""WITH maug AS (SELECT doc_id,
         |   CASE WHEN doc_id % $OutlierProbeMod = 0
         |        THEN repeat(text, $OutlierProbeFactor) ELSE text END AS text
         | FROM documents),
         | ${sizeOutliersSql("maug")}""".stripMargin,

    "mm_block_dedup" ->
      s"""WITH $blockSetsSqlWith,
         | inv AS (SELECT doc_id, unnest(sh) AS s FROM bl),
         | keep AS (SELECT s FROM inv GROUP BY s
         |   HAVING COUNT(*) BETWEEN 2 AND ${Dedup.MaxShingleDf}),
         | inv2 AS (SELECT inv.doc_id, inv.s FROM inv JOIN keep ON inv.s = keep.s),
         | cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |   FROM inv2 x JOIN inv2 y ON x.s = y.s AND x.doc_id < y.doc_id),
         | ver AS (SELECT c.a, c.b,
         |   CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
         |     (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
         |   FROM cand c JOIN bl sa ON sa.doc_id = c.a JOIN bl sb ON sb.doc_id = c.b),
         | nbrs AS (SELECT a AS doc_id, b AS other, jaccard FROM ver
         |   UNION ALL SELECT b, a, jaccard FROM ver),
         | best AS (SELECT doc_id, other, jaccard FROM (
         |   SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |     ORDER BY jaccard DESC, other ASC) AS rn FROM nbrs) WHERE rn = 1)
         | SELECT d.doc_id, best.other AS best_match, best.jaccard AS best_jaccard
         | FROM (SELECT doc_id FROM documents) d
         | LEFT JOIN best ON d.doc_id = best.doc_id""".stripMargin,

    "mm_block_probe" ->
      s"""WITH $blockSetsSqlWith,
         | ref AS (SELECT DISTINCT unnest(sh) AS bh FROM bl
         |   WHERE doc_id % ${Dedup.IncomingMod} <> 0),
         | inc AS (SELECT doc_id, unnest(sh) AS bh FROM bl
         |   WHERE doc_id % ${Dedup.IncomingMod} = 0),
         | j AS (SELECT inc.doc_id, ref.bh IS NOT NULL AS seen
         |   FROM inc LEFT JOIN ref ON inc.bh = ref.bh),
         | g AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_blocks,
         |     CAST(SUM(CASE WHEN seen THEN 1 ELSE 0 END) AS BIGINT) AS n_seen
         |   FROM j GROUP BY doc_id)
         | SELECT doc_id, n_blocks, n_seen,
         |   round(CAST(n_seen AS DOUBLE) / n_blocks, 6) AS resident_frac
         | FROM g""".stripMargin,

    "mm_binary_stats" ->
      s"""SELECT doc_id, $modalityCase AS modality,
         | CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes,
         | sha256(text) AS payload_sha,
         | substring(hex(encode(text)), 1, 8) AS magic_hex
         | FROM documents""".stripMargin,

    "mm_decode_features" ->
      s"""WITH h AS (SELECT doc_id,
         |   ('0x' || substring(md5(text), 1, 8))::BIGINT AS h,
         |   octet_length(encode(text)) AS nb FROM documents)
         | SELECT doc_id, $modalityCase AS modality,
         |  CAST(nb AS BIGINT) AS payload_bytes,
         |  CAST(h % 1920 + 1 AS INTEGER) AS width,
         |  CAST(h % 1080 + 1 AS INTEGER) AS height,
         |  CAST(nb // 100 + 1 AS INTEGER) AS n_frames
         | FROM h""".stripMargin,

    "mm_resize_plan" ->
      s"""WITH h AS (SELECT doc_id,
         |   ('0x' || substring(md5(text), 1, 8))::BIGINT AS h,
         |   octet_length(encode(text)) AS nb FROM documents),
         | d AS (SELECT doc_id, $modalityCase AS modality,
         |   CAST(h % 1920 + 1 AS INTEGER) AS width,
         |   CAST(h % 1080 + 1 AS INTEGER) AS height FROM h)
         | SELECT doc_id, modality, width, height,
         |  CAST(CASE WHEN GREATEST(width, height) > $ResizeBox
         |    THEN GREATEST(1, (width * $ResizeBox) // GREATEST(width, height))
         |    ELSE width END AS INTEGER) AS out_width,
         |  CAST(CASE WHEN GREATEST(width, height) > $ResizeBox
         |    THEN GREATEST(1, (height * $ResizeBox) // GREATEST(width, height))
         |    ELSE height END AS INTEGER) AS out_height
         | FROM d""".stripMargin,

    "mm_frame_sample" ->
      s"""WITH h AS (SELECT doc_id,
         |   ('0x' || substring(md5(text), 1, 8))::BIGINT AS h,
         |   octet_length(encode(text)) AS nb FROM documents),
         | d AS (SELECT doc_id, $modalityCase AS modality,
         |   CAST(nb // 100 + 1 AS INTEGER) AS n_frames FROM h)
         | SELECT doc_id, modality, n_frames,
         |  CAST(unnest(CASE WHEN modality = 'video'
         |    THEN list_transform(range(LEAST(n_frames, $MaxSampledFrames)),
         |      i -> (i * n_frames) // LEAST(n_frames, $MaxSampledFrames))
         |    ELSE [0] END) AS BIGINT) AS frame_idx
         | FROM d""".stripMargin,
  )
}
