package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** The one foreachBatch runner: every micro-batch of `input` goes through
  * `score`, and `sink` receives (batchId, scored frame) once per trigger.
  * A stream is run as the batch computation over each interval (the
  * D-Streams model; Structured Streaming's foreachBatch runs batch code
  * per epoch), so a streaming face is its oracle-checked batch function
  * bound to this runner, e.g.
  * {{{
  * StreamingScorer.run("graft_streaming_kl", docs, ckpt)(
  *   Corpus.klScoreAgainst(model, _)) { (id, scored) => ... }
  * }}}
  *
  * The stateless faces and the batch function each one binds:
  *   - KL drift: [[graft.operators.Corpus.klScoreAgainst]]
  *   - DSIR importance weights: [[graft.operators.Corpus.dsirScore]]
  *   - surprisal: [[graft.operators.TextAnalysis.probeSurprisal]] and
  *     [[graft.operators.TextAnalysis.probeBigramSurprisal]]
  *   - novelty gate: [[graft.operators.TextAnalysis.probeNovelty]]
  *   - BPE encoding: [[graft.operators.TextAnalysis.bpeApply]]
  *   - k-means assignment: [[graft.operators.Similarity.kmeansProbe]]
  *   - ANN top-k: [[graft.operators.Similarity.annProbe]]
  *   - BQ top-k: [[graft.operators.Similarity.probeHamming]]
  *   - span gate: [[graft.operators.Dedup.probeSpans]]
  *   - binary block gate: [[graft.operators.Multimodal.probeBlocks]]
  *   - MinHash dedup: [[graft.operators.Dedup.probeIndex]]
  * Each face's spec pins streamed == batch per slice.
  *
  * Design of those faces:
  *   - '''Stateless per micro-batch.''' Each row is scored within the
  *     trigger it arrives in; per-document aggregations (best match,
  *     top-k, rollups) are trivially correct per batch, and no
  *     cross-batch state exists. A stream-static join chain could not
  *     express the aggregate-then-join-back shapes; foreachBatch runs
  *     them as plain batch code.
  *   - '''Frozen model side.''' The model or index (unigram/bigram model,
  *     DSIR buckets, BPE merges, centroids, ANN corpus, BQ index, gram,
  *     span, block or MinHash index) is built once on a corpus snapshot,
  *     persisted at scale, and attached by broadcast or a hash join.
  *     Re-estimating it per batch would let the scoring drift with the
  *     feed (train offline, score online).
  *   - '''O(batch) per trigger.''' Work is the micro-batch joined against
  *     the frozen side, independent of corpus size; the stream is never
  *     re-scanned.
  *   - '''Restart resumes at the next batch id.''' The checkpoint holds
  *     the committed offsets, so a restarted query replays no committed
  *     batch; delivery is exactly-once when the sink is idempotent by
  *     batchId (foreachBatch recomputes a replayed batch
  *     deterministically). Pinned in `KeyedStateRestartSpec`.
  *
  * The stateful monitors ([[StreamingDailyMonitor]] and
  * [[StreamingHeavyHitters]]) run through the same runner; their `score`
  * folds the batch into driver-side state before scoring. */
object StreamingScorer {

  def run(name: String, input: DataFrame, checkpointDir: String)(
      score: DataFrame => DataFrame)(
      sink: (Long, DataFrame) => Unit): StreamingQuery =
    input.writeStream
      .queryName(name)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(batchId, score(batch))
      }
      .start()
}
