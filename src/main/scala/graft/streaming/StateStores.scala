package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** State-store provider selection for the keyed-state streaming faces.
  *
  * Structured Streaming's default (HDFS-backed) provider holds every
  * key's state ON-HEAP in each executor, checkpointing deltas to the
  * state directory — right for bounded key spaces (routes, types,
  * operators), wrong for the LLM-pipeline faces whose keyed state is
  * USER- or DOCUMENT-cardinality
  * ([[StreamingGrowth]]/[[StreamingChurn]]/[[StreamingBotFlag]]'s
  * `mapGroupsWithState` ledgers): at 100 TB event history the per-user
  * rows are O(100 M–1 B) keys, and an on-heap map that size evicts the
  * executor before the first checkpoint. Spark ships a RocksDB-backed
  * provider (`rocksdbjni` is on every Spark 4 classpath) that keeps
  * state off-heap on local SSD with the same exactly-once checkpoint
  * contract — the standard production answer. It is also the only
  * provider `transformWithState` accepts (it needs several column
  * families), so [[TransitStreamingJob]] starts its union runner with
  * [[startOnRocksDb]].
  *
  * Output is IDENTICAL under either provider — the provider stores
  * bytes, it does not change semantics (`RocksDbStateSpec` pins a keyed
  * face bit-equal across providers, restart included). The conf is read
  * at query START and recorded in the checkpoint, so set it before
  * `.start()`; a restarted query keeps the provider it started with.
  *
  * The provider's changelog and snapshot files go through the session's
  * checkpoint file manager, as the offset and commit logs do. `MainApp`
  * installs [[LocalCheckpointFileManager]] on its session for good, not
  * here around `start()`: the file source creates its log on the stream
  * thread after `start()` returns. That manager fsyncs no more than
  * Hadoop's local file system did: neither fsyncs a file on close. */
object StateStores {

  /** Spark's bundled RocksDB provider (spark-sql, not an extra dep). */
  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The conf key Structured Streaming reads at query start. */
  val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  private val ChangelogKey =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  /** Point every subsequently-started streaming query's keyed state at
    * RocksDB. Also unlocks changelog checkpointing — full-snapshot
    * uploads per commit would re-pay the whole store at scale; the
    * changelog makes the per-commit cost O(updates). */
  def useRocksDb(spark: SparkSession): Unit = {
    spark.conf.set(ProviderKey, RocksDbProvider)
    spark.conf.set(ChangelogKey, "true")
  }

  /** Restore the default on-heap provider (test hygiene). */
  def useDefault(spark: SparkSession): Unit = {
    spark.conf.unset(ProviderKey)
    spark.conf.unset(ChangelogKey)
  }

  /** Start one query on RocksDB state (changelog checkpointing on) with
    * `partitions` state partitions, and leave the session's own settings
    * as they were: a query copies the session's conf when it starts, so
    * queries started later keep their provider. */
  def startOnRocksDb(spark: SparkSession, partitions: Int)(
      start: => StreamingQuery): StreamingQuery = {
    val confs = Seq(ProviderKey -> RocksDbProvider, ChangelogKey -> "true",
      "spark.sql.shuffle.partitions" -> partitions.toString)
    val before = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try start
    finally before.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}
