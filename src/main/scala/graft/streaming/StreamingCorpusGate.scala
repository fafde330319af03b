package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Corpus, TextAnalysis}

/** In-flight corpus quality gating — the streaming face of the
  * per-document gates in [[Corpus.clean]]: a document stream is scored
  * (composite quality + native repetition stats) and filtered in ONE
  * map-only pass, with `observe()` counters so the kept/dropped split is
  * visible per micro-batch without a second pass. The signals come from
  * [[TextAnalysis.qualityScoreCol]]/[[TextAnalysis.repetitiveCol]] — the
  * same expressions the batch operators and their DuckDB oracles use, as
  * Columns rather than frames, so the streaming gate composes join-free
  * (a self-join of the stream would be a stateful stream-stream join).
  *
  * Deliberately NOT in the gate: the exact-duplicate drop — that is
  * cross-document state and belongs to the MinHash index probe
  * ([[graft.operators.Dedup.probeIndex]] on [[StreamingScorer]]);
  * chaining this gate in front of it is the production ingest topology
  * (cheap stateless gates first, stateful dedup on the survivors).
  *
  * 100 TB shape: stateless map-only streaming — no watermark, no state
  * store; throughput is scan-bound and the filter prunes before anything
  * stateful downstream. */
object StreamingCorpusGate {

  val MetricsName = "graft_corpus_gate"

  /** Score + gate a STREAMING (doc_id, text, ...) frame. Emits only
    * surviving documents (doc_id, text, quality_score); per-batch
    * `observe` metrics: n_docs, n_kept. */
  def gate(documents: DataFrame): DataFrame = {
    val keep = !TextAnalysis.repetitiveCol &&
      TextAnalysis.qualityScoreCol >= Corpus.QualityKeepThreshold
    documents
      .observe(MetricsName,
        count(lit(1)).as("n_docs"),
        count(when(keep, 1)).as("n_kept"))
      .where(keep)
      .select(col("doc_id"), col("text"),
        TextAnalysis.qualityScoreCol.as("quality_score"))
  }
}
