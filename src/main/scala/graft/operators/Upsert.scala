package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Latest-value-per-key — the reference's `KStream.toTable` / KTable upsert
  * view (`RouteWithLeastOccupancyPerTransportType.java:62`,
  * `MostOccupiedOperator.java:56-68`, `LeastOccupiedTransportTypeWindow.java:49-52`).
  *
  * Spark-first shape: `max_by(struct(payload), struct(ordCols))` — one
  * shuffle on the key, map-side partial aggregation (each partition keeps one
  * candidate per key before the exchange), no window sort. The ordering
  * columns must form a total order per key (e.g. event time + a unique
  * tiebreak id), otherwise the winner is nondeterministic.
  *
  * At 100 TB this is the scale-correct upsert compaction: state per key is
  * one row, the shuffle carries at most one row per key per input partition.
  */
object Upsert {

  /** One row per key: the payload of the row with the greatest `ordCols`
    * struct. Output keeps the input column order. */
  def latestPerKey(df: DataFrame, keyCols: Seq[String], ordCols: Seq[String]): DataFrame = {
    val payload = df.columns.filterNot(keyCols.contains).toSeq
    df.groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(payload.map(col): _*),
                  struct(ordCols.map(col): _*)).as("_latest"))
      .select(df.columns.toSeq.map {
        case k if keyCols.contains(k) => col(k)
        case p => col(s"_latest.$p").as(p)
      }: _*)
  }
}
