package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.MisraGries
import graft.operators.TextAnalysis

/** Continuous heavy-hitter monitoring — the streaming face of
  * [[TextAnalysis.heavyHitters]]: each micro-batch of documents folds
  * into ONE Misra-Gries sketch per trigger (the same typed aggregator the
  * batch query runs), and the batch sketch merges into the running sketch
  * with the aggregator's own mergeable-summaries rule — so the continuous
  * state carries the identical guarantee: any term above
  * N/(capacity+1) of the tokens seen so far still holds a counter.
  *
  * State is the sketch itself — ≤ capacity (term, est) counters plus the
  * running token total, kilobytes at ANY corpus size — held as plain
  * driver values ([[state]]): persist and seed `initial` to restart warm
  * (counters and totals are additive, pinned in the spec). Per trigger
  * the sink receives the current candidate table (term, est, n_tok);
  * `est` is the usual MG underestimate — an exact recount of the ≤
  * capacity candidates (the batch query's second pass) is the
  * close-of-day job, not per-trigger work.
  *
  * 100 TB shape: per-trigger cost is one map-side-combined sketch over
  * the micro-batch (bounded state per partition) collapsing to a single
  * ≤capacity-row result; nothing re-scans the stream and the merged state
  * never grows. */
class StreamingHeavyHitters(capacity: Int = TextAnalysis.MgCapacity,
                            initial: Option[(Map[String, Long], Long)] = None) {

  private val mg = new MisraGries(capacity)

  @volatile private var sketch: Map[String, Long] =
    initial.map(_._1).getOrElse(Map.empty)
  @volatile private var nTok: Long = initial.map(_._2).getOrElse(0L)

  /** The monitor's whole durable state: (counters, running token total). */
  def state: (Map[String, Long], Long) = (sketch, nTok)

  /** Start the monitor. `documents` must be a STREAMING frame with a
    * `text` column; `sink` receives (batchId, candidates) per trigger. */
  def run(documents: DataFrame, checkpointDir: String,
          queryName: String = "graft_streaming_heavy_hitters")(
          sink: (Long, DataFrame) => Unit): StreamingQuery =
    StreamingScorer.run(queryName, documents, checkpointDir) { batch =>
      val sp = batch.sparkSession
      val row = batch
        .select(explode(TextAnalysis.toks(col("text"))).as("term"))
        .agg(MisraGries.of(capacity)(col("term")).as("cands"),
          count(lit(1)).as("n"))
        .head()
      val batchSketch = row.getSeq[org.apache.spark.sql.Row](0)
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      sketch = mg.merge(sketch, batchSketch)
      nTok += row.getLong(1)
      import sp.implicits._
      val n = nTok
      mg.finish(sketch).map(c => (c.item, c.est, n)).toDF("term", "est", "n_tok")
    }(sink)
}
